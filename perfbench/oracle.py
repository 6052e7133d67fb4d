"""DuckDB answers the benchmark checks the pipeline's KG against.

The batch oracle is the repository's own ``kg`` oracle
(``__spark_entry__.oracle_sql()["kg"]``) run over a generated
``documents.parquet``.  The incremental oracle is the same gold-rule
triple set, re-keyed through the canonical map the stream ended with:
the property that a streamed KG equals a full rebuild re-keyed with the
final map.  Answers are reduced to a digest of the sorted
``(subj, pred, obj, support, min_k)`` rows, so they can be computed once
per corpus, outside timing, and compared with every build.
"""

from __future__ import annotations

import hashlib
import os

import duckdb

KG_COLS = ("subj", "pred", "obj", "support", "min_k")


def digest(rows) -> tuple[str, int]:
    """(digest, row count) of KG rows given as sequences in KG_COLS order."""
    norm = sorted(
        (str(r[0]), str(r[1]), str(r[2]), int(r[3]), int(r[4])) for r in rows
    )
    return hashlib.sha256(repr(norm).encode()).hexdigest()[:16], len(norm)


def _connect(threads: int) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB that spills, if ever, next to the corpus files."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    con.execute(f"SET temp_directory = '{os.environ.get('TMPDIR', '.')}'")
    return con


def batch_kg(docs_path: str, threads: int) -> tuple[str, int]:
    """Digest of the ``kg`` oracle over one corpus."""
    import __spark_entry__ as entry

    con = _connect(threads)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    try:
        sql = entry.oracle_sql()["kg"]
        return digest(con.execute(f"SELECT {', '.join(KG_COLS)} FROM ({sql})").fetchall())
    finally:
        con.close()


def rekeyed_kg(
    docs_path: str, doc_range: tuple[int, int], canon_path: str, threads: int
) -> tuple[str, int]:
    """Digest of the gold triple set over the documents with ``lo <=
    doc_id < hi``, re-keyed through the canonical map stored at
    ``canon_path`` (``surface, component`` parquet)."""
    from cross_sentence_relation_extraction_idepnn_spark.config import PREDICATE
    from cross_sentence_relation_extraction_idepnn_spark.operators.graph import (
        duck_sdp_prefix,
    )
    from cross_sentence_relation_extraction_idepnn_spark.training import GOLD_MAX_HOPS

    con = _connect(threads)
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{docs_path}' "
            f"WHERE doc_id >= {int(doc_range[0])} AND doc_id < {int(doc_range[1])}"
        )
        con.execute(f"CREATE VIEW final_canon AS SELECT * FROM '{canon_path}/*.parquet'")
        sql = f"""
            {duck_sdp_prefix()},
            gold AS (
                SELECT e1_id AS subj, '{PREDICATE}' AS pred, e2_id AS obj,
                       e1_surface AS subj_surface, e2_surface AS obj_surface, k
                FROM sdp WHERE ok AND sdp_dist <= {GOLD_MAX_HOPS}
            )
            SELECT UPPER(COALESCE(cs.component, subj)) AS subj, pred,
                   UPPER(COALESCE(co.component, obj)) AS obj,
                   COUNT(*) AS support, MIN(k) AS min_k
            FROM gold t
            LEFT JOIN final_canon cs ON cs.surface = t.subj_surface
            LEFT JOIN final_canon co ON co.surface = t.obj_surface
            GROUP BY 1, 2, 3
        """
        return digest(con.execute(sql).fetchall())
    finally:
        con.close()


def transcript_table(docs_path: str, threads: int):
    """The transcript table the pipeline derives from ``docs_path``, as
    an Arrow table in the streaming source's schema (``ts`` a UTC
    timestamp) with the source ``doc_id`` kept for splitting."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from cross_sentence_relation_extraction_idepnn_spark.sources.transcripts import (
        duck_transcripts_cte,
    )

    con = _connect(threads)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}'")
    try:
        t = con.execute(
            f"SELECT *, CAST(substr(conv_id, 6) AS BIGINT) AS doc_id "
            f"FROM ({duck_transcripts_cte()}) ORDER BY doc_id, turn_idx"
        ).arrow()
    finally:
        con.close()
    ts = pc.cast(
        pc.multiply(t.column("ts_epoch"), 1_000_000), pa.timestamp("us", tz="UTC")
    )
    return pa.table(
        {
            "conv_id": t.column("conv_id"),
            "turn_idx": pc.cast(t.column("turn_idx"), pa.int32()),
            "role": t.column("role"),
            "text": t.column("text"),
            "tool": pc.cast(t.column("tool"), pa.string()),
            "ts": ts,
            "doc_id": t.column("doc_id"),
        }
    )
