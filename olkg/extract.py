"""Extract stage: pages DataFrame → triple rows (+ join side rows).

This is the pipeline's single JVM↔Python boundary.  The per-record semantics
live in :mod:`olkg.triples` (pure Python, spec-tested); this module is only
its Arrow-batched vectorized wrapper via ``mapInPandas`` — batches stream in
as Arrow RecordBatches and rows stream out columnar, so Python is amortized
per batch, never per Spark row (the analog of the reference's 1001-record
queue, openlibrary_to_rdf.rb:35-45, minus its tail-drop bug).

One kernel (:func:`_extract_lines`) serves both checkpoint policies of
:func:`olkg.pipeline.run_pipeline`; they differ only in where its rows land
(:func:`extract_pages`): the durable policy streams every kind out to the
``extract/`` checkpoint, the fast policy streams only the direct triples
into the dedup shuffle and writes the small side rows to a parquet side
sink from inside the task.

Scale notes (100 TB posture):
- narrow stage: no shuffle; parallelism = input splits.  Optional
  ``repartition_by_url`` forces an xxhash64(url) redistribution when the
  input's own partitioning is skewed (north_rule's url-hash repartition).
- the html→text inversion runs JVM-side (:func:`pages_to_lines`), so Python
  receives one string per page and never sees html bytes; the byte-identity
  audit is a separate native aggregate (:func:`audit_pages`).
- side sink: the expensive Python extraction runs EXACTLY ONCE per page and
  the large intermediate is never materialized.  On a cluster the sink path
  must be shared storage — the sink is written through ``pyarrow.fs``
  resolved from the URI in-task (hdfs://, s3a://→s3://, file://; see
  olkg.fsio), and the driver cross-checks an executor-side row census
  against sink visibility, failing loudly on a non-shared sink.  Task
  retries can duplicate sink files; every consumer is duplicate-tolerant
  (names/refs/probes/block ids feed joins or blocking whose outputs are
  deduplicated; collision triples pass the linked dedup).
"""

from __future__ import annotations

import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import vocab as V
from .canonicalize import BLOCK_ID_PREDS
from .schema import EXTRACT_SCHEMA, TRIPLES_SCHEMA
from .triples import extract_record, parse_dump_line

_EDGE_COLS = TRIPLES_SCHEMA.names
_COLS = EXTRACT_SCHEMA.names

# Triples whose predicate can ALSO be produced by the link stage's joins
# (J1 emits ol:author from the author↔creation rendezvous; editions with a
# role=="Author" contributor emit ol:author directly, lib/edition.rb:229-236;
# J2 emits dc:subject URIs, and classifications/dict-subjects emit dc:subject
# URIs directly).  They are emitted as kind='collision' and deduplicated
# together with the join outputs, so the direct edge set (kind='triple') and
# the linked edge set stay provably disjoint — global dedup then decomposes
# into two independent dedups.
_DC_SUBJECT = V.DC_SUBJECT
_OL_AUTHOR = V.OL_AUTHOR


def _is_collision_triple(pred: str, obj_kind: str) -> bool:
    return pred == _OL_AUTHOR or (pred == _DC_SUBJECT and obj_kind == "uri")


class _Cols:
    """Columnar accumulator: per-column Python lists → pd.DataFrame(dict),
    avoiding the row-oriented list-of-tuples transpose."""

    def __init__(self, names):
        self.names = names
        self.cols = [[] for _ in names]

    def append(self, *vals):
        for c, v in zip(self.cols, vals):
            c.append(v)

    def __len__(self):
        return len(self.cols[0])

    def frame(self) -> pd.DataFrame:
        return pd.DataFrame(dict(zip(self.names, self.cols)))

    def reset(self):
        self.cols = [[] for _ in self.names]


def _extract_lines(lines, triples: _Cols, side: _Cols) -> None:
    """The extraction kernel: parse each dump line and append its rows —
    direct triples to ``triples`` (5 edge columns), every other kind to
    ``side`` (kind + 5 edge columns).  Lines the semantics skip (None,
    malformed, unknown type) append nothing."""
    for line in lines:
        rec = parse_dump_line(line) if line is not None else None
        if rec is None:
            continue
        res = extract_record(rec[0], rec[4])
        if res is None:
            continue
        for t in res.triples:
            if _is_collision_triple(t.pred, t.obj_kind):
                side.append("collision", t.subj, t.pred, t.obj, t.obj_kind,
                            t.obj_datatype)
                continue
            # identifier predicates double as entity-resolution blocking
            # keys: a 'block_id' copy spares the canonical map a re-scan of
            # the full edge table (duplicates are harmless — blocking dedups)
            if t.pred in BLOCK_ID_PREDS:
                side.append("block_id", t.subj, None,
                            BLOCK_ID_PREDS[t.pred] + ":" + t.obj, None, None)
            triples.append(t.subj, t.pred, t.obj, t.obj_kind, t.obj_datatype)
        for key, name in res.author_names:
            side.append("author_name", key, None, name, None, None)
        for creation, key in res.creation_refs:
            side.append("creation_ref", creation, None, key, None, None)
        for uri, label in res.probes:
            side.append("probe", uri, None, label, None, None)


def _make_extract_batches(side_sink: str | None = None, side_count_acc=None):
    """Batch iterator over (line) rows around :func:`_extract_lines`.

    Without ``side_sink`` every row streams out as EXTRACT_SCHEMA rows (the
    durable policy writes them all to ``extract/``).  With it only the
    direct triples stream out (TRIPLES_SCHEMA); every other kind accumulates
    across the task's batches and is written once per task to
    ``side_sink``.  The sink path may be a URI (``hdfs://``, ``s3a://``,
    ``file://``) or a plain path: it is resolved IN-TASK via
    :func:`olkg.fsio.pa_fs` (pyarrow), so executors write straight to
    shared storage — the cluster precondition for the fast policy.
    ``side_count_acc`` (a Spark accumulator) censuses written side rows so
    the driver can detect a sink the executors wrote but it cannot see (see
    :func:`read_side_rows`)."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        side = _Cols(_COLS)
        for pdf in batches:
            triples = _Cols(_EDGE_COLS)
            _extract_lines(pdf["line"].tolist(), triples, side)
            out = triples.frame()
            if side_sink is None:
                out.insert(0, "kind", "triple")
                if len(side):
                    yield side.frame()
                    side.reset()
            yield out

        if side_sink is not None and len(side):
            import pyarrow as pa
            import pyarrow.parquet as pq

            from .fsio import pa_fs, pjoin

            tbl = pa.table(
                {n: pa.array(c, type=pa.string())
                 for n, c in zip(side.names, side.cols)})
            fs, sink_path = pa_fs(side_sink)
            fs.create_dir(sink_path, recursive=True)
            pq.write_table(
                tbl, pjoin(sink_path, f"part-{uuid.uuid4().hex}.parquet"),
                filesystem=fs, compression="zstd")
            if side_count_acc is not None:
                side_count_acc.add(len(side))

    return _batches


def extract_pages(pages: DataFrame, repartition_by_url: int | None = None,
                  side_sink: str | None = None,
                  side_count_acc=None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) → extract rows, one Python pass
    per page over the JVM-side dump lines (:func:`pages_to_lines`).

    Without ``side_sink``: every kind, EXTRACT_SCHEMA (the durable policy
    materializes them all once, so downstream readers never re-run the
    UDF).  With ``side_sink``: only the direct triples, TRIPLES_SCHEMA; the
    other kinds land in the sink when the returned stream is executed, so
    the caller MUST run an action on it before reading the sink with
    :func:`read_side_rows` (pass a Spark accumulator as ``side_count_acc``
    to feed its empty-sink guard).  The page audit is not part of the
    stream — use :func:`audit_pages`."""
    src = pages
    if repartition_by_url:
        src = src.repartition(repartition_by_url, F.xxhash64("url"))
    return pages_to_lines(src).mapInPandas(
        _make_extract_batches(side_sink, side_count_acc),
        schema=EXTRACT_SCHEMA if side_sink is None else TRIPLES_SCHEMA)


# --- JVM-native html→text inversion -----------------------------------------
# html_to_text (pagesgen.py) is substring+replace — expressible natively, so
# html bytes never cross into Python and the inversion costs no Python string
# work; Python receives ONLY the recovered dump line.

_H_PREFIX = "<html><body><pre>"
_H_SUFFIX = "</pre></body></html>"


def _native_recovered(html_col):
    """Decoded+unescaped dump line from the html envelope, NULL when the
    envelope doesn't conform (same contract as pagesgen.html_to_text)."""
    s = F.decode(html_col, "UTF-8")
    conforms = s.startswith(_H_PREFIX) & s.endswith(_H_SUFFIX)
    body = s.substr(F.lit(len(_H_PREFIX) + 1),
                    F.length(s) - F.lit(len(_H_PREFIX) + len(_H_SUFFIX)))
    # same replace order as html_to_text: &gt; then &lt; then &amp;
    unesc = F.replace(F.replace(F.replace(body, F.lit("&gt;"), F.lit(">")),
                                F.lit("&lt;"), F.lit("<")),
                      F.lit("&amp;"), F.lit("&"))
    return F.when(html_col.isNotNull() & conforms, unesc)


def pages_to_lines(pages: DataFrame) -> DataFrame:
    """(line): the dump line per page — the html inversion when it
    succeeds, else the text column."""
    cols = pages.columns
    if "html" in cols and "text" in cols:
        line = F.coalesce(_native_recovered(F.col("html")), F.col("text"))
    elif "html" in cols:
        line = _native_recovered(F.col("html"))
    else:
        line = F.col("text")
    return pages.select(line.alias("line"))


def audit_pages(pages: DataFrame) -> DataFrame:
    """Byte-identity audit, fully native: one (pages, mismatches) row.  A
    page passes iff the html→text inversion reproduces the text column
    exactly (north_rule's per-url invariant), so a null or non-conforming
    html envelope counts as a mismatch.  One column-pruned scan, no
    Python."""
    recovered = _native_recovered(F.col("html"))
    ok = recovered.eqNullSafe(F.col("text"))
    return pages.agg(
        F.count(F.lit(1)).alias("pages"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("mismatches"))


def read_side_rows(spark, side_sink: str,
                   expected_rows: int | None = None) -> DataFrame:
    """Read the side sink written by :func:`extract_pages`
    (EXTRACT_SCHEMA-shaped; empty DataFrame if the sink has no files).

    Existence checks go through Spark's Hadoop FileSystem (scheme-aware),
    so URI sinks work wherever Spark itself can read them.  When
    ``expected_rows`` (the side-row accumulator's value) is positive, this
    raises unless the visible sink holds AT LEAST that many rows — a sink
    that is missing entirely OR undercounts is the signature of executors
    writing to storage the driver cannot fully see (e.g. executor-local
    disks on a multi-node cluster with a local-path sink, where the
    driver-colocated executor's files ARE visible and an existence check
    alone passes), which would otherwise silently drop join-born edges,
    block_ids and the canonical map.  ``visible >= expected`` is the sound
    direction: the accumulator counts each successful task exactly once,
    and task retries can only ADD files to the sink, never remove them."""
    from . import fsio

    names = fsio.listdir(spark, side_sink)
    has_files = any(n.endswith(".parquet") for n in names)
    if not has_files:
        if expected_rows:
            raise RuntimeError(
                f"side sink {side_sink!r} is empty but executors reported "
                f"writing {expected_rows} side rows — the sink is not on "
                "storage shared between executors and driver. Point "
                "--out/side_sink at shared storage (HDFS/S3/NFS) for "
                "multi-node runs.")
        return spark.createDataFrame([], EXTRACT_SCHEMA)
    sides = spark.read.schema(EXTRACT_SCHEMA).parquet(side_sink)
    if expected_rows:
        visible = sides.count()
        if visible < expected_rows:
            raise RuntimeError(
                f"side sink {side_sink!r} holds {visible} rows but "
                f"executors reported writing {expected_rows} — part of the "
                "sink is on storage the driver cannot see (e.g. an "
                "executor-local path on a multi-node cluster). Point "
                "--out/side_sink at shared storage (HDFS/S3/NFS).")
    return sides
