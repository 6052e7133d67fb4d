"""Structured Streaming surface: stream-vs-batch equivalence on bounded
input, and the custom stateful sessionizer."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import functions as F

from cross_sentence_relation_extraction_idepnn_spark.streaming import events as S


def test_windowed_counts_stream_equals_batch(spark, sf_dir):
    """Watermarked tumbling-window agg over the stream (availableNow)
    must equal the batch twin on the same bounded input."""
    stream = S.stream_events(spark, sf_dir)
    assert stream.isStreaming
    got = (
        S.run_available_now(S.windowed_counts(stream), "win_counts_test")
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    want = (
        S.windowed_counts_batch(spark, sf_dir)
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_sessionize_emits_closed_sessions(spark, sf_dir):
    """availableNow drains the bounded stream; end-of-stream advances
    the watermark to +inf, so every session times out and is emitted —
    per-user totals must then equal the batch aggregation."""
    sess = S.sessionize(S.stream_events(spark, sf_dir), gap_minutes=30)
    got = S.run_available_now(sess, "sessions_test", output_mode="append").toPandas()
    assert len(got) > 0
    per_user = got.groupby("user_id")[["n_events", "sum_value"]].sum().reset_index()
    want = (
        S.events_batch(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .toPandas()
    )
    m = per_user.merge(want, on="user_id", suffixes=("_s", "_b"))
    assert len(m) == len(want)
    assert (m["n_events_s"] == m["n_events_b"]).all()
    assert abs(m["sum_value_s"] - m["sum_value_b"]).max() < 1e-6
    # session invariant: start ≤ end for every emitted session
    assert (got["start_epoch"] <= got["end_epoch"]).all()


def test_stream_triples_equals_batch(spark, sf_dir, tmp_path):
    """Streaming KG construction (foreachBatch over the SAME batch
    pipeline) on a bounded input must produce exactly the batch triple
    set — the stream-vs-batch equivalence contract for the flagship
    pipeline, not just the events aggregation."""
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        run_stream_triples,
    )

    src = str(tmp_path / "turns")
    sink = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    tdf = transcripts(spark, sf_dir)
    tdf.write.parquet(src)

    run_stream_triples(spark, src, sink, ckpt)

    got = spark.read.parquet(sink).toPandas()
    want = triples_from_transcripts(spark, tdf).toPandas()
    assert len(got) == len(want) > 0
    cols = sorted(want.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    import pandas as pd

    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_stream_triples_restart_does_not_double_emit(spark, sf_dir, tmp_path):
    """Exactly-once contract: re-running the drained query against the
    same checkpoint must be a no-op (no new files, no duplicate rows) —
    the streaming twin of the batch pipeline's per-stage resume."""
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        run_stream_triples,
    )

    src = str(tmp_path / "turns")
    sink = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")
    transcripts(spark, sf_dir).write.parquet(src)

    run_stream_triples(spark, src, sink, ckpt)
    n1 = spark.read.parquet(sink).count()
    run_stream_triples(spark, src, sink, ckpt)  # restart, same checkpoint
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 > 0


def test_conversation_buffering_recovers_split_conversations(spark, sf_dir, tmp_path):
    """A micro-batch boundary that splits conversations loses
    cross-boundary candidate pairs; chaining the stateful
    sessionize_turns buffer recovers EXACT batch equality."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        run_stream_triples,
    )

    tdf = transcripts(spark, sf_dir).filter(
        F.regexp_extract("conv_id", r"conv-(\d+)", 1).cast("int") < 30
    )
    pdf = tdf.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark can't read ns parquet
    # split EVERY conversation across the two source files
    half = pdf.groupby("conv_id")["turn_idx"].transform("max") // 2
    src = tmp_path / "turns"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf[pdf.turn_idx <= half]), src / "f1.parquet")
    pq.write_table(pa.Table.from_pandas(pdf[pdf.turn_idx > half]), src / "f2.parquet")

    want = triples_from_transcripts(spark, spark.createDataFrame(pdf)).toPandas()
    assert len(want) > 0

    def run(buffered: bool, tag: str):
        sink = str(tmp_path / f"out_{tag}")
        run_stream_triples(
            spark,
            str(src),
            sink,
            str(tmp_path / f"ckpt_{tag}"),
            buffer_conversations=buffered,
            max_files_per_trigger=1,
        )
        return spark.read.parquet(sink).toPandas()

    naive = run(False, "naive")
    # the split really corrupts extraction: per-half nearest-pair
    # selection (W5) re-emits duplicate entity pairs and severs
    # cross-boundary ones — the naive triple multiset differs
    key = ["conv_id", "subj", "obj", "cand_id"]
    assert sorted(map(tuple, naive[key].values)) != sorted(
        map(tuple, want[key].values)
    )

    got = run(True, "buffered")
    cols = sorted(want.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


def test_batch_write_replay_is_idempotent(spark, tmp_path):
    """ADVICE r2: foreachBatch is at-least-once — a batch replayed
    after a partial write must REPLACE its own partition, not
    double-append. write_triples_batch twice with the same batch_id
    (the second call simulating the replay) leaves the sink identical;
    a different batch_id lands in its own partition untouched."""
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        write_triples_batch,
    )

    sink = str(tmp_path / "sink")
    rows = spark.createDataFrame(
        [("c1", "A", "acts_on", "B"), ("c1", "A", "acts_on", "C")],
        "conv_id string, subj string, pred string, obj string",
    )
    write_triples_batch(rows.limit(1), 0, sink)  # "partial" first attempt
    write_triples_batch(rows, 0, sink)           # replay: full batch 0
    assert spark.read.parquet(sink).count() == 2  # replaced, not appended
    write_triples_batch(rows, 1, sink)           # a different batch
    got = spark.read.parquet(sink)
    assert got.count() == 4
    assert got.filter("batch_id = 0").count() == 2


def test_never_idle_conversation_spills_with_bounded_state(spark, tmp_path):
    """VERDICT r2 scale note: one never-idle conversation (turn cadence
    < gap timeout) must not grow state without bound. With
    max_turns=8 the buffer spills whole blocks keeping a MAX_K-turn
    overlap; the streamed triple SET still equals the batch run, spill
    genuinely fired (overlap turns emitted twice across batch
    partitions), and cross-turn pairs were at stake (k=2 triples)."""
    import itertools

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cross_sentence_relation_extraction_idepnn_spark.config import ENTITY_ALIASES
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        run_stream_triples,
        sessionize_turns,
    )

    ops = sorted(s for s, (_, t) in ENTITY_ALIASES.items() if t == "OP")
    objs = sorted(s for s, (_, t) in ENTITY_ALIASES.items() if t == "OBJ")
    # entity turns every 2nd turn; greedy-unique (op, obj) pairs so
    # that no entity pair ever has two candidate occurrences within
    # MAX_K reach — nearest-pair selection is then block-stable and
    # stream/batch triple sets must agree EXACTLY
    combos = itertools.cycle(itertools.product(ops, objs))
    seen_pairs: set[tuple[str, str]] = set()
    assignments: list[tuple[str, str]] = []
    for _ in range(21):
        while True:
            op, obj = next(combos)
            prev = assignments[-1] if assignments else None
            new = {(op, obj)} | (
                {(prev[0], obj), (op, prev[1])} if prev else set()
            )
            if not (new & seen_pairs):
                seen_pairs |= new
                assignments.append((op, obj))
                break
    rows = []
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(41):  # 5s cadence << 10s gap: never idle
        if i % 2 == 0:
            op, obj = assignments[i // 2]
            text = f"{op} runs {obj} now"
        else:
            text = "just filler words here"
        rows.append(("nv-0", i, "user", text, None, t0 + pd.Timedelta(seconds=5 * i)))
    # final turn after a >gap pause so the tail block can flush on a
    # bounded drain (event-time timers need the watermark to pass them)
    rows.append(
        ("nv-0", 41, "user", "closing filler words", None,
         t0 + pd.Timedelta(seconds=5 * 40 + 30))
    )
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["tool"] = pdf["tool"].astype("string")  # all-null needs explicit type
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    src = tmp_path / "turns"
    src.mkdir()
    for g in range(0, len(pdf), 4):  # 4 turns per file → many micro-batches
        pq.write_table(pa.Table.from_pandas(pdf.iloc[g : g + 4]), src / f"f{g:03d}.parquet")

    # 1) sessionized transcript stream: every turn survives, and the
    # overlap duplication proves the spill fired (state stayed ≤ 8+4)
    sess_sink = str(tmp_path / "sess_out")
    turns_stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string,"
            " tool string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = sessionize_turns(turns_stream, max_turns=8)
    (
        q.writeStream.format("parquet")
        .option("path", sess_sink)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sess = spark.read.parquet(sess_sink).toPandas()
    assert set(sess["turn_idx"]) == set(range(42))      # nothing lost
    assert len(sess) > 42                               # overlap → spill fired
    assert sess["turn_idx"].value_counts().max() <= 2   # each turn ≤ 2 blocks

    # 2) end-to-end: streamed triple set == batch triple set
    want = triples_from_transcripts(spark, spark.createDataFrame(pdf)).toPandas()
    assert len(want) > 0
    assert (want["k"] == 2).any()  # cross-turn pairs genuinely at stake
    sink = str(tmp_path / "triples_out")
    run_stream_triples(
        spark, str(src), sink, str(tmp_path / "ckpt"),
        buffer_conversations=True, max_files_per_trigger=1, max_turns=8,
    )
    got = spark.read.parquet(sink).toPandas().drop(columns=["batch_id"])
    cols = sorted(want.columns)
    g = got[cols].drop_duplicates().sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(g, w, check_dtype=False)


def test_stream_kg_maintenance_equals_batch_rebuild(spark, sf_dir, tmp_path):
    """Continuous KG maintenance: per-batch delta extraction + merge
    into the running versioned KG must end at exactly the batch
    materialize_kg state, and a restart against the same checkpoint
    must not change the latest version (committed batches never
    re-fire; versioned overwrites make replays idempotent)."""
    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        read_latest_kg,
        run_stream_kg,
    )

    src = str(tmp_path / "turns")
    kg_dir = str(tmp_path / "kg")
    ckpt = str(tmp_path / "ckpt")
    tdf = transcripts(spark, sf_dir)
    # conversation-atomic files (the feed contract): several batches
    tdf.repartition(4, "conv_id").write.parquet(src)
    canon = canonicalize(detect_mentions(spark, segment(tdf)))

    run_stream_kg(spark, src, kg_dir, ckpt, canon=canon, max_files_per_trigger=1)
    got = read_latest_kg(spark, kg_dir).toPandas()
    want = materialize_kg(spark, sf_dir).toPandas()
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )
    # restart: drained checkpoint → no new version, same state
    import os

    versions_before = sorted(os.listdir(kg_dir))
    run_stream_kg(spark, src, kg_dir, ckpt, canon=canon, max_files_per_trigger=1)
    assert sorted(os.listdir(kg_dir)) == versions_before
    got2 = read_latest_kg(spark, kg_dir).toPandas()
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        got2[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


def test_stream_kg_with_buffering_survives_split_conversations(spark, sf_dir, tmp_path):
    """run_stream_kg(buffer_conversations=True) over a feed that splits
    EVERY conversation across files must still converge to the batch
    rebuild — the sessionize closer restores delta atomicity for the
    support-summing merge."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        materialize_kg,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        read_latest_kg,
        run_stream_kg,
    )

    tdf = transcripts(spark, sf_dir).filter(
        F.regexp_extract("conv_id", r"conv-(\d+)", 1).cast("int") < 30
    )
    pdf = tdf.toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    half = pdf.groupby("conv_id")["turn_idx"].transform("max") // 2
    src = tmp_path / "turns"
    src.mkdir()
    pq.write_table(pa.Table.from_pandas(pdf[pdf.turn_idx <= half]), src / "f1.parquet")
    pq.write_table(pa.Table.from_pandas(pdf[pdf.turn_idx > half]), src / "f2.parquet")

    full = spark.createDataFrame(pdf)
    canon = canonicalize(detect_mentions(spark, segment(full)))
    kg_dir = str(tmp_path / "kg")
    run_stream_kg(
        spark, str(src), kg_dir, str(tmp_path / "ckpt"),
        canon=canon, max_files_per_trigger=1, buffer_conversations=True,
    )
    got = read_latest_kg(spark, kg_dir).toPandas()

    # batch rebuild over the same 30 conversations, same canon map
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        dedup_triples,
        rekey_canonical,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )

    want = dedup_triples(
        rekey_canonical(triples_from_transcripts(spark, full), canon)
    ).toPandas()
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


def test_stream_dedup_equals_batch_dedup(spark, sf_dir):
    """Continuous exact dedup: on a bounded documents stream the
    emitted key set must equal batch ``dedup_exact``'s — one survivor
    per distinct content hash."""
    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import dedup_exact
    from cross_sentence_relation_extraction_idepnn_spark.streaming import docs as D

    got = S.run_available_now(
        D.stream_dedup(D.stream_documents(spark, sf_dir)),
        "stream_dedup_test",
        output_mode="append",
    ).toPandas()
    batch = dedup_exact(spark, sf_dir).toPandas()
    assert len(got) == len(batch)
    assert set(got["text_md5"]) == set(batch["text_md5"])
    assert got["text_md5"].is_unique


def test_stream_dedup_drops_cross_batch_duplicates(spark, tmp_path):
    """Duplicates arriving in a LATER micro-batch (maxFilesPerTrigger=1
    → one file per batch) must be dropped by the watermark state, and
    unseen content must still pass."""
    import pandas as pd
    from cross_sentence_relation_extraction_idepnn_spark.streaming import docs as D

    d = tmp_path / "docs"
    d.mkdir()
    mk = lambda i, t: {  # noqa: E731
        "doc_id": i, "text": t, "lang": "en", "source": "s", "n_chars": len(t),
    }
    pd.DataFrame([mk(1, "alpha beta"), mk(2, "gamma delta")]).to_parquet(
        d / "a.parquet"
    )
    pd.DataFrame(
        [mk(3, "alpha beta"), mk(4, "epsilon zeta"), mk(5, "gamma delta")]
    ).to_parquet(d / "b.parquet")

    got = S.run_available_now(
        D.stream_dedup(D.stream_documents(spark, str(d), glob="*.parquet")),
        "stream_dedup_xbatch_test",
        output_mode="append",
    ).toPandas()
    # 3 distinct texts survive out of 5 rows; the duplicate doc_ids
    # (whichever file arrived second) never appear
    assert len(got) == 3
    assert got["text_md5"].is_unique
    surviving = set(got["doc_id"])
    assert len(surviving & {1, 3}) == 1 and len(surviving & {2, 5}) == 1
    assert 4 in surviving


def test_windowed_hll_stream_equals_batch(spark, sf_dir):
    """The streaming per-window HLL register table must equal the
    batch twin exactly on bounded input (max is duplication- and
    order-insensitive), and each window's state is at most 64 rows."""
    got = (
        S.run_available_now(
            S.windowed_hll(S.stream_events(spark, sf_dir)), "win_hll_test"
        )
        .toPandas()
        .sort_values(["win_start", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        S.windowed_hll_batch(spark, sf_dir)
        .toPandas()
        .sort_values(["win_start", "bucket"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert got.groupby("win_start").size().max() <= 64
    # estimator sanity per window vs exact distinct users
    import duckdb
    from cross_sentence_relation_extraction_idepnn_spark.operators.sketch import (
        hll_estimate,
    )

    exact = duckdb.sql(
        f"SELECT CAST(FLOOR(epoch(ts)/600)*600 AS BIGINT) AS w, "
        f"COUNT(DISTINCT user_id) AS n FROM '{sf_dir}/events.parquet' GROUP BY 1"
    ).df()
    for w, n in exact.itertuples(index=False):
        sub = got[got["win_start"] == w]
        est = hll_estimate(dict(zip(sub["bucket"], sub["max_rank"])))
        assert abs(est - n) <= max(0.45 * n, 3), (w, est, n)


def test_windowed_cms_stream_equals_batch(spark, sf_dir):
    """Streaming per-window Count-Min grid must equal the batch twin
    exactly (counts are additive and order-insensitive); state per
    window is bounded by the fixed grid; per-user point queries never
    under-count."""
    got = (
        S.run_available_now(
            S.windowed_cms(S.stream_events(spark, sf_dir)), "win_cms_test"
        )
        .toPandas()
        .sort_values(["win_start", "r", "c"])
        .reset_index(drop=True)
    )
    want = (
        S.windowed_cms_batch(spark, sf_dir)
        .toPandas()
        .sort_values(["win_start", "r", "c"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    from cross_sentence_relation_extraction_idepnn_spark.operators.sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        cms_query,
    )

    assert got.groupby("win_start").size().max() <= CMS_DEPTH * CMS_WIDTH
    import duckdb

    exact = duckdb.sql(
        f"SELECT CAST(FLOOR(epoch(ts)/600)*600 AS BIGINT) AS w, user_id, "
        f"COUNT(*) AS n FROM '{sf_dir}/events.parquet' GROUP BY 1, 2 "
        f"ORDER BY n DESC LIMIT 25"
    ).df()
    for w, uid, n in exact.itertuples(index=False):
        sub = got[got["win_start"] == w]
        grid = {(r, c): v for _, r, c, v in sub.itertuples(index=False)}
        assert cms_query(grid, str(uid)) >= n


def test_stream_kg_extends_canonical_map_label_stably(spark, sf_dir, tmp_path):
    """run_stream_kg(extend_canon=True): the canonical map is versioned
    state extended per batch by ``canonicalize_incremental``. Pins the
    three properties the evolving-map mode promises: (1) LABEL
    STABILITY — every version's rows appear verbatim in every later
    version; (2) per-step consistency — each version equals the batch
    operator applied to (previous version, that batch's new surfaces);
    (3) end-to-end keying — because labels never change, the streamed
    KG equals a full-corpus rebuild rekeyed with the FINAL map. A
    restart against the drained checkpoint adds no versions."""
    import os

    import pandas as pd

    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        canonicalize_incremental,
        dedup_triples,
        rekey_canonical,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.mentions import (
        detect_mentions,
    )
    from cross_sentence_relation_extraction_idepnn_spark.operators.segmentation import (
        segment,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        read_latest_kg,
        run_stream_kg,
    )

    src = str(tmp_path / "turns")
    kg_dir = str(tmp_path / "kg")
    canon_dir = str(tmp_path / "canon")
    ckpt = str(tmp_path / "ckpt")
    tdf = transcripts(spark, sf_dir)
    tdf.repartition(3, "conv_id").write.parquet(src)

    run_stream_kg(
        spark, src, kg_dir, ckpt,
        max_files_per_trigger=1, extend_canon=True, canon_dir=canon_dir,
    )
    versions = sorted(
        int(d.split("=")[1]) for d in os.listdir(canon_dir) if d.startswith("v=")
    )
    assert len(versions) >= 2, "need multiple batches to exercise extension"

    def _read_map(v: int) -> dict[str, str]:
        return {
            r.surface: r.component
            for r in spark.read.parquet(f"{canon_dir}/v={v}").collect()
        }

    maps = {v: _read_map(v) for v in versions}
    for a, b in zip(versions, versions[1:]):
        # (1) stability: earlier rows verbatim in every later version
        assert maps[a].items() <= maps[b].items()
        # (2) per-step consistency vs the batch operator
        news = sorted(set(maps[b]) - set(maps[a]))
        prev_df = spark.createDataFrame(
            sorted(maps[a].items()), "surface string, component string"
        )
        news_df = spark.createDataFrame([(s,) for s in news], "surface string")
        redone = {
            (r.surface, r.component)
            for r in canonicalize_incremental(prev_df, news_df).collect()
        }
        assert redone == set(maps[b].items())
    final = maps[versions[-1]]
    all_surfaces = {
        r.surface
        for r in detect_mentions(spark, segment(tdf)).select("surface").distinct().collect()
    }
    assert set(final) == all_surfaces
    # (3) streamed KG ≡ full rebuild rekeyed with the final map
    final_df = spark.createDataFrame(
        sorted(final.items()), "surface string, component string"
    )
    want = dedup_triples(
        rekey_canonical(triples_from_transcripts(spark, tdf), final_df)
    ).toPandas()
    got = read_latest_kg(spark, kg_dir).toPandas()
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )
    # restart: drained checkpoint → no new canon or kg versions
    canon_before = sorted(os.listdir(canon_dir))
    kg_before = sorted(os.listdir(kg_dir))
    run_stream_kg(
        spark, src, kg_dir, ckpt,
        max_files_per_trigger=1, extend_canon=True, canon_dir=canon_dir,
    )
    assert sorted(os.listdir(canon_dir)) == canon_before
    assert sorted(os.listdir(kg_dir)) == kg_before


def test_stream_neardup_equals_batch_pairs_and_restart_noop(spark, sf_dir, tmp_path):
    """run_stream_neardup: the streaming incremental MinHash plan over
    per-batch index state. Pins (1) completeness — the union of all
    per-batch pair partitions EQUALS the batch ``minhash_pairs`` over
    the full corpus (each pair surfaces exactly once, in
    max(batch(a), batch(b))); (2) the index is append-only per batch
    with both stores populated; (3) a restart against the drained
    checkpoint adds no partitions and rewrites no pairs."""
    import os

    from cross_sentence_relation_extraction_idepnn_spark.operators.dedup import minhash_pairs
    from cross_sentence_relation_extraction_idepnn_spark.session import read_parquet_cached
    from cross_sentence_relation_extraction_idepnn_spark.streaming.docs import (
        read_stream_pairs,
        run_stream_neardup,
    )

    src = str(tmp_path / "docs")
    pairs_dir = str(tmp_path / "pairs")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    docs = read_parquet_cached(spark, f"{sf_dir}/documents.parquet")
    docs.repartition(3, "doc_id").write.parquet(src)

    run_stream_neardup(
        spark, src, pairs_dir, ckpt, index_dir, max_files_per_trigger=1
    )
    batches = sorted(
        int(d.split("=")[1]) for d in os.listdir(pairs_dir) if d.startswith("b=")
    )
    assert len(batches) >= 2, "need multiple batches to exercise the index"
    for sub in ("bands", "sets"):
        got_b = sorted(
            int(d.split("=")[1])
            for d in os.listdir(f"{index_dir}/{sub}")
            if d.startswith("b=")
        )
        assert got_b == batches
    got = {tuple(r) for r in read_stream_pairs(spark, pairs_dir).collect()}
    want = {tuple(r) for r in minhash_pairs(spark, sf_dir).collect()}
    assert got == want and want, "streamed pairs must equal the batch run"
    # per-batch pair partitions are disjoint (exactly-once surfacing)
    n_rows = sum(
        spark.read.parquet(f"{pairs_dir}/b={b}").count() for b in batches
    )
    assert n_rows == len(got)
    # restart: drained checkpoint leaves every store untouched
    def _listing():
        return {
            (root, d): sorted(os.listdir(f"{root}/{d}"))
            for root in (pairs_dir, f"{index_dir}/bands", f"{index_dir}/sets")
            for d in os.listdir(root)
            if d.startswith("b=")
        }

    before = _listing()
    run_stream_neardup(
        spark, src, pairs_dir, ckpt, index_dir, max_files_per_trigger=1
    )
    assert _listing() == before


def test_stream_cdc_equals_batch_and_replay_idempotent(spark, sf_dir, tmp_path):
    """The streaming MERGE INTO must converge to cdc_state over
    everything ingested, regardless of micro-batch boundaries (the
    associative merge law driving it), and a full replay from a fresh
    checkpoint must overwrite to the identical state."""
    from pyspark.sql import functions as F

    from cross_sentence_relation_extraction_idepnn_spark.operators.temporal import cdc_state
    from cross_sentence_relation_extraction_idepnn_spark.streaming.events import (
        events_batch,
        read_latest_cdc,
        run_stream_cdc,
    )

    ev = events_batch(spark, sf_dir)
    # 3 physical shards → 3 micro-batches with maxFilesPerTrigger=1
    src = str(tmp_path / "cdc_src")
    for i in range(3):
        ev.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    state_dir = str(tmp_path / "cdc_state")
    run_stream_cdc(
        spark, src, state_dir,
        str(tmp_path / "ckpt1"), max_files_per_trigger=1,
    )
    want = {tuple(r) for r in cdc_state(ev).collect()}
    got = {tuple(r) for r in read_latest_cdc(spark, state_dir).collect()}
    assert got == want and len(got) > 0
    # tombstones retained in state (resurrection guard)
    assert any(r[3] == "error" for r in got) or all(
        r[3] != "error" for r in want
    )
    # replay: fresh checkpoint forces reprocessing into the same dirs
    run_stream_cdc(
        spark, src, state_dir,
        str(tmp_path / "ckpt2"), max_files_per_trigger=1,
    )
    again = {tuple(r) for r in read_latest_cdc(spark, state_dir).collect()}
    assert again == want


def test_stream_batches_release_their_caches_and_plan_memos(spark, sf_dir, tmp_path):
    """Each micro-batch's persisted sentence table and the plan memos
    built on the micro-batch DataFrame are released when the batch
    commits: after three batches the context holds as many persistent
    RDDs (and the session as many plan memos) as before the stream,
    and the streamed KG still equals the rebuild."""
    from cross_sentence_relation_extraction_idepnn_spark import session
    from cross_sentence_relation_extraction_idepnn_spark.operators.linking import (
        dedup_triples,
        rekey_canonical,
    )
    from cross_sentence_relation_extraction_idepnn_spark.plans.pipeline import (
        triples_from_transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        transcripts,
    )
    from cross_sentence_relation_extraction_idepnn_spark.streaming.triples import (
        read_latest_kg,
        run_stream_kg,
        run_stream_triples,
    )

    src = str(tmp_path / "turns")
    canon_dir = str(tmp_path / "canon")
    tdf = transcripts(spark, sf_dir)
    tdf.repartition(3, "conv_id").write.parquet(src)
    jsc = spark.sparkContext._jsc

    def held() -> tuple[int, int]:
        return jsc.getPersistentRDDs().size(), len(session._PLAN_CACHE)

    before = held()
    run_stream_kg(
        spark, src, str(tmp_path / "kg"), str(tmp_path / "ckpt_kg"),
        max_files_per_trigger=1, extend_canon=True, canon_dir=canon_dir,
    )
    assert len(os.listdir(canon_dir)) == 3  # one canon version per batch
    assert held() == before
    run_stream_triples(
        spark, src, str(tmp_path / "sink"), str(tmp_path / "ckpt_tr"),
        max_files_per_trigger=1,
    )
    assert held() == before

    v = max(int(d.split("=")[1]) for d in os.listdir(canon_dir))
    final_map = spark.read.parquet(f"{canon_dir}/v={v}")
    want = dedup_triples(
        rekey_canonical(triples_from_transcripts(spark, tdf), final_map)
    ).toPandas()
    got = read_latest_kg(spark, str(tmp_path / "kg")).toPandas()
    cols = sorted(want.columns)
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        want[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )
