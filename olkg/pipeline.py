"""End-to-end pipeline: extract → link → canonicalize → materialize.

One stage graph; durable vs. fast is only a checkpoint policy
(:func:`run_pipeline` ``durable=``):

  pages ──extract (one Python pass, mapInPandas)──▶ direct triples
                                                 + side kinds
        ──link (J1 salted shuffle + J2 broadcast) over the side kinds
          ∪ the collision kind──▶ linked
        ──dedup: edges = dedup(direct) ∪ dedup(linked)──▶ edges/
        ──canonical_map (block_id + author_name rows, blocked CC)
          ──▶ canonical_map/
        ──materialize──▶ nodes/ + export_nt/ + lineage/
  pages ──audit (native byte-identity aggregate)

The direct and linked sets are disjoint by construction (every triple a
join can also produce is extracted as kind='collision' into linked), so the
two dedups compose to the global A4 dedup.

- durable (default): every stage is written in sequence to
  ``<out>/<stage>/`` — extract/ (every kind, kind-partitioned), linked/,
  edges/, canonical_map/ (reliable CC checkpoints), nodes/ + the export —
  and a re-run skips each stage whose ``_SUCCESS`` marker exists.
- fast: no resume.  The direct triples stream from the UDF into the dedup
  (fused, or through a transient raw table under ``dedup_postwrite``) and
  out to edges/d=0; the side kinds go to an in-task side sink; link (into
  edges/d=1, then nodes + the export), canonical map and audit then run
  concurrently in threads.

Run:  python -m olkg.pipeline --pages <dir> --out <dir> [--lcsh-parquet <dir>]
      (spark-submit --py-files olkg.zip works the same way on a cluster)
"""

from __future__ import annotations

import argparse
import json
import threading
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import fsio
from .canonicalize import (_EDGE_COLS, canonical_map, dedup_edges,
                           dedup_from_raw, with_dedup_write_cols)
from .extract import audit_pages, extract_pages, read_side_rows
from .fsio import pjoin
from .link import linked_triples
from .materialize import (append_lineage, build_nodes, export_ntriples_gz,
                          read_stage, stage_complete, write_stage)
from .session import build_session


def run_pipeline(spark: SparkSession, pages_path: str, out_dir: str,
                 lcsh: DataFrame | None = None,
                 durable: bool = True,
                 resume: bool = True,
                 hot_threshold: int = 100_000,
                 num_salts: int = 16,
                 repartition_by_url: int | None = None,
                 with_canonical_map: bool = True,
                 export_nt: bool = True,
                 dedup_pages: bool = False,
                 dedup_postwrite: bool = False) -> dict:
    """Run the stage graph; returns a metrics dict (per-stage wall times and
    censuses, triples, pages, text_mismatches, triples/sec).

    ``durable``: the checkpoint policy (module docstring).  ``resume``
    applies to the durable policy only; the fast policy always recomputes.

    ``dedup_pages``: web crawls are duplicate-heavy — when set, pages are
    exact-deduplicated by content digest (:func:`dedup_pages_df`) BEFORE
    extraction so duplicate pages never pay the Python extraction cost.
    Output triples are unchanged whenever duplicate pages carry identical
    text; page/audit counts then refer to distinct pages.

    ``dedup_postwrite``: DECOUPLE the direct triples' dedup from the
    extraction — they are written raw (a pure narrow map, annotated with
    row hashes + uids by :func:`olkg.canonicalize.with_dedup_write_cols`)
    and deduplicated by :func:`olkg.canonicalize.dedup_from_raw`, a
    separate job that never shuffles the full rows.  The durable policy
    annotates its extract/ checkpoint; a resume over an extract/ written
    without the hash columns falls back to the fused dedup and says so in
    ``metrics['stages']['canonicalize']['dedup_plan']``.  The fast policy
    writes a transient edges_raw/ table and reclaims it only after the
    exactness census raw rows == kept + dropped holds (a mismatch raises
    and leaves edges_raw/ in place); the census is recorded on the edges
    lineage row.  Without the flag the direct dedup is the fused
    :func:`olkg.canonicalize.dedup_edges`."""
    fsio.mkdirs(spark, out_dir)
    run_id = uuid.uuid4().hex[:12]
    metrics: dict = {"run_id": run_id, "stages": {},
                     "mode": "durable" if durable else "fast"}
    t_total = time.time()
    pages = spark.read.parquet(pages_path)
    if dedup_pages:
        pages = dedup_pages_df(pages)
    common = dict(lcsh=lcsh, hot_threshold=hot_threshold,
                  num_salts=num_salts, repartition_by_url=repartition_by_url,
                  with_canonical_map=with_canonical_map, export_nt=export_nt,
                  dedup_postwrite=dedup_postwrite)
    if durable:
        n_triples, audit = _run_durable(spark, pages, out_dir, run_id,
                                        metrics, resume=resume, **common)
    else:
        n_triples, audit = _run_fast(spark, pages, out_dir, run_id, metrics,
                                     **common)
    total_s = time.time() - t_total
    metrics.update(triples=n_triples, wall_s=round(total_s, 3),
                   triples_per_sec=(round(n_triples / total_s, 1)
                                    if total_s else None),
                   pages=audit["pages"],
                   text_mismatches=audit["mismatches"] or 0)
    return metrics


# -- stage functions shared by both policies -----------------------------------

def _dedup_direct(direct: DataFrame, postwrite: bool, stats: dict,
                  cleanup: list) -> DataFrame:
    """A4 dedup of the direct triples: the hash-aggregate detect when the
    raw rows carry the :func:`with_dedup_write_cols` columns, else the
    fused dropDuplicates (a postwrite run without them — a resume over a
    fused-mode checkpoint — is recorded as a fallback, since recomputing
    uids across the detect/remove jobs would not be re-scan-stable)."""
    if postwrite and {"h1", "h2", "uid"} <= set(direct.columns):
        return dedup_from_raw(direct, cleanup=cleanup, stats=stats)
    if postwrite:
        stats["dedup_plan"] = "fused-fallback(no-hash-cols)"
    return dedup_edges(direct.select(*_EDGE_COLS))


def _canonical_map(sides: DataFrame, reliable_dir: str | None,
                   stats: dict) -> DataFrame:
    """The canonical map from the extract stage's block_id + author_name
    rows.  No silent caps: what the super-block guard removed, the CC
    loop's iteration count and its jump engagement land in ``stats``."""
    block_ids = (sides.filter(F.col("kind") == "block_id")
                 .select(F.col("subj").alias("entity"),
                         F.col("obj").alias("block_key")))
    names = (sides.filter(F.col("kind") == "author_name")
             .select(F.col("subj").alias("author_key"),
                     F.col("obj").alias("name")))
    return canonical_map(block_ids, names, reliable_dir=reliable_dir,
                         dropped_stats=stats, cc_stats=stats)


def _materialize(out_dir: str, edges: DataFrame, export_nt: bool) -> None:
    write_stage(build_nodes(edges), out_dir, "nodes")
    if export_nt:
        export_ntriples_gz(edges, pjoin(out_dir, "export_nt"))


# -- durable policy ------------------------------------------------------------

def _run_durable(spark, pages, out_dir, run_id, metrics, *, lcsh, resume,
                 hot_threshold, num_salts, repartition_by_url,
                 with_canonical_map, export_nt, dedup_postwrite):
    def stage(name: str, key: str, build) -> None:
        """Run ``build`` (which writes ``<out>/<name>``) unless a resumable
        checkpoint exists; record its wall time, stats and lineage."""
        if resume and stage_complete(out_dir, name):
            metrics["stages"][key] = {"skipped": True}
            return
        t0 = time.time()
        stats = build() or {}
        wall = int((time.time() - t0) * 1000)
        append_lineage(spark, out_dir, run_id, name,
                       read_stage(spark, out_dir, name), wall)
        metrics["stages"][key] = {"wall_ms": wall, **stats}

    def extract():
        ext = extract_pages(pages, repartition_by_url=repartition_by_url)
        if dedup_postwrite:
            # the dedup reads only the 'triple' rows' hash columns
            ext = with_dedup_write_cols(ext)
        # kind-partitioned so every downstream reader prunes to its kinds
        write_stage(ext, out_dir, "extract", partition_by=["kind"])

    stage("extract", "extract", extract)
    ext = read_stage(spark, out_dir, "extract")

    stage("linked", "link", lambda: write_stage(
        linked_triples(ext, lcsh, hot_threshold, num_salts),
        out_dir, "linked"))

    def dedup():
        stats: dict = {}
        cleanup: list = []
        direct = _dedup_direct(ext.filter(F.col("kind") == "triple"),
                               dedup_postwrite, stats, cleanup)
        linked = dedup_edges(read_stage(spark, out_dir, "linked"))
        write_stage(direct.unionByName(linked), out_dir, "edges")
        for cached in cleanup:
            cached.unpersist()
        return stats

    stage("edges", "canonicalize", dedup)
    edges = read_stage(spark, out_dir, "edges")

    if with_canonical_map:
        def cmap():
            # CC iterations checkpoint to the stage directory (distributed
            # storage on a cluster), so an executor/driver loss resumes
            # instead of recomputing the loop
            stats: dict = {}
            write_stage(_canonical_map(ext, pjoin(out_dir, "_cc_checkpoints"),
                                       stats), out_dir, "canonical_map")
            return stats

        stage("canonical_map", "canonical_map", cmap)

    stage("nodes", "materialize",
          lambda: _materialize(out_dir, edges, export_nt))
    return edges.count(), audit_pages(pages).first()


# -- fast policy ---------------------------------------------------------------

def _run_fast(spark, pages, out_dir, run_id, metrics, *, lcsh,
              hot_threshold, num_salts, repartition_by_url,
              with_canonical_map, export_nt, dedup_postwrite):
    sides_sink = pjoin(out_dir, "sides")
    fsio.delete(spark, sides_sink)
    fsio.delete(spark, pjoin(out_dir, "edges"))

    # -- job 1: extract (once) → dedup direct triples → edges/d=0 ------------
    # edges is a two-partition table (d=0 direct, d=1 linked): the link
    # stage appends d=1 WITHOUT touching d=0, so the canonical map (which
    # reads only the side kinds) runs concurrently with it
    t0 = time.time()
    side_acc = spark.sparkContext.accumulator(0)
    stream = extract_pages(pages, repartition_by_url=repartition_by_url,
                           side_sink=sides_sink, side_count_acc=side_acc)
    dstats: dict = {}
    cleanup: list = []
    if dedup_postwrite:
        # decoupled shape: (a) raw write — pure narrow map, the Python
        # extraction never shares a stage with a shuffle; (b) dedup job over
        # the raw parquet (full rows move zero times on the broadcast plan)
        fsio.delete(spark, pjoin(out_dir, "edges_raw"))
        write_stage(with_dedup_write_cols(stream), out_dir, "edges_raw")
        t1 = time.time()
        metrics["stages"]["extract_raw"] = {"wall_ms": int((t1 - t0) * 1000)}
        stream = read_stage(spark, out_dir, "edges_raw")
    obs_direct = Observation("direct_edges")
    write_stage(_dedup_direct(stream, dedup_postwrite, dstats, cleanup)
                .observe(obs_direct, F.count(F.lit(1)).alias("n")),
                out_dir, "edges/d=0")
    for cached in cleanup:        # detect intermediates are consumed now
        cached.unpersist()
    n_direct = obs_direct.get["n"]
    if dedup_postwrite:
        # delete-after-verify: the exactness census gates the reclaim of the
        # transient raw table — a mismatch keeps it on disk and fails loudly
        raw_rows = read_stage(spark, out_dir, "edges_raw").count()
        if raw_rows != n_direct + dstats["n_dropped_dups"]:
            raise RuntimeError(
                f"postwrite dedup census mismatch: raw={raw_rows} != "
                f"kept={n_direct} + dropped={dstats['n_dropped_dups']} — "
                f"edges_raw retained for forensics, not deleted")
        fsio.delete(spark, pjoin(out_dir, "edges_raw"))
        metrics["stages"]["dedup_direct"] = {
            "wall_ms": int((time.time() - t1) * 1000), "rows": n_direct,
            "raw_rows": raw_rows, **dstats}
    metrics["stages"]["extract_dedup_direct"] = {
        "wall_ms": int((time.time() - t0) * 1000), "rows": n_direct}

    # fail loudly if executors wrote side rows the driver cannot see
    # (non-shared sink storage) instead of silently emitting no linked
    # edges / block_ids / canonical map
    sides = read_side_rows(spark, sides_sink, expected_rows=side_acc.value)

    # -- tail: link(+nodes) ∥ canonical_map ∥ audit ---------------------------
    # all three chains read only already-materialized inputs (the sink, the
    # d=0 parquet, the pages parquet); Spark schedules concurrent jobs from
    # threads, overlapping their fixed costs and filling idle cores
    t_tail = time.time()
    results: dict = {}

    def link_then_nodes():
        t = time.time()
        obs_join = Observation("join_edges")
        write_stage(dedup_edges(linked_triples(sides, lcsh, hot_threshold,
                                               num_salts))
                    .observe(obs_join, F.count(F.lit(1)).alias("n")),
                    out_dir, "edges/d=1")
        results["n_join"] = obs_join.get["n"]
        results["link_ms"] = int((time.time() - t) * 1000)
        # nodes needs the full edge set (join-born objects mint node ids)
        t = time.time()
        _materialize(out_dir, read_stage(spark, out_dir, "edges"),
                     export_nt)
        results["nodes_ms"] = int((time.time() - t) * 1000)

    def cmap():
        t = time.time()
        stats: dict = {}
        write_stage(_canonical_map(sides, None, stats), out_dir,
                    "canonical_map")
        results["cmap"] = {"wall_ms": int((time.time() - t) * 1000), **stats}

    def audit():
        results["audit"] = audit_pages(pages).first()

    errs: list = []

    def guard(fn):
        def inner():
            try:
                fn()
            except BaseException as e:  # propagate to the main thread
                errs.append(e)
        return inner

    tasks = [link_then_nodes, audit] + ([cmap] if with_canonical_map else [])
    threads = [threading.Thread(target=guard(fn)) for fn in tasks]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errs:
        raise errs[0]
    # parent-level completion marker for readers of <out>/edges
    fsio.touch(spark, pjoin(out_dir, "edges", "_SUCCESS"))
    metrics["stages"]["link_dedup"] = {"wall_ms": results["link_ms"],
                                       "rows": results["n_join"]}
    if with_canonical_map:
        metrics["stages"]["canonical_map"] = results["cmap"]
    metrics["stages"]["tail"] = {
        "wall_ms": int((time.time() - t_tail) * 1000),
        "nodes_ms": results["nodes_ms"]}

    # full per-stage lineage (north_rule); the edges row carries the
    # postwrite retention census (raw == kept + dropped) so the reclaim
    # verification survives the run; nodes + canonical_map read their own
    # checkpoints, so each census is one pruned column scan
    census = metrics["stages"].get("dedup_direct")
    append_lineage(spark, out_dir, run_id, "edges",
                   read_stage(spark, out_dir, "edges"), results["link_ms"],
                   detail=json.dumps(
                       {k: census[k] for k in ("rows", "n_dropped_dups",
                                               "raw_rows")})
                   if census else None)
    append_lineage(spark, out_dir, run_id, "sides", sides,
                   metrics["stages"]["extract_dedup_direct"]["wall_ms"])
    append_lineage(spark, out_dir, run_id, "nodes",
                   read_stage(spark, out_dir, "nodes"), results["nodes_ms"])
    if with_canonical_map:
        append_lineage(spark, out_dir, run_id, "canonical_map",
                       read_stage(spark, out_dir, "canonical_map"),
                       results["cmap"]["wall_ms"])
    return n_direct + results["n_join"], results["audit"]


def dedup_pages_df(pages: DataFrame) -> DataFrame:
    """Exact page dedup, one survivor per distinct content.

    Keyed on the content digest itself — NOT a url round-trip, which loses
    content when one url carries two distinct texts (min(url) can elect the
    same url for two digests; a url-keyed dropDuplicates then discards one
    of them nondeterministically).  Null text falls back to md5(html), then
    to a per-url sentinel so null pages never collapse together.  Keeper
    election shuffles only (digest, url); the semi-join keeps exactly the
    keeper rows, and the final (digest, url) dropDuplicates collapses
    identical-content recrawls of the keeper url while reusing the join's
    partitioning (no extra exchange)."""
    digest = F.coalesce(F.md5("text"),
                        F.md5("html") if "html" in pages.columns else F.lit(None),
                        F.concat(F.lit("null:"), F.col("url")))
    hashed = pages.withColumn("_d", digest)
    keep = (hashed.select("_d", "url")
            .groupBy("_d").agg(F.min("url").alias("url")))
    return (hashed.join(keep, ["_d", "url"], "left_semi")
            .dropDuplicates(["_d", "url"])
            .drop("_d"))


def main(argv=None):
    ap = argparse.ArgumentParser(description="olkg KG-construction pipeline")
    ap.add_argument("--pages", required=True, help="pages parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--lcsh-parquet", help="LCSH dimension parquet (label,uri)")
    ap.add_argument("--lcsh-nt", help="LCSH N-Triples dump to load (S2)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--fast", action="store_true",
                    help="fast checkpoint policy: no intermediate "
                         "checkpoints and no resume; for throughput "
                         "measurement")
    ap.add_argument("--hot-threshold", type=int, default=100_000)
    ap.add_argument("--num-salts", type=int, default=16)
    ap.add_argument("--repartition-by-url", type=int, default=None)
    ap.add_argument("--dedup-pages", action="store_true",
                    help="exact-dedup pages by content hash before extract")
    ap.add_argument("--dedup-postwrite", action="store_true",
                    help="decouple the direct triples' dedup from the "
                         "extraction: they are written raw (durable: the "
                         "extract checkpoint; fast: a transient table "
                         "reclaimed after the exactness census) and "
                         "deduplicated as a separate job that shuffles "
                         "only 24-byte hash rows "
                         "(olkg.canonicalize.dedup_from_raw)")
    args = ap.parse_args(argv)
    spark = build_session(app_name="olkg-pipeline", master=args.master,
                          shuffle_partitions=args.shuffle_partitions)
    lcsh = None
    if args.lcsh_parquet:
        lcsh = spark.read.parquet(args.lcsh_parquet)
    elif args.lcsh_nt:
        from .link import load_lcsh_ntriples
        lcsh = load_lcsh_ntriples(spark, args.lcsh_nt)
    metrics = run_pipeline(spark, args.pages, args.out, lcsh=lcsh,
                           durable=not args.fast,
                           resume=not args.no_resume,
                           hot_threshold=args.hot_threshold,
                           num_salts=args.num_salts,
                           repartition_by_url=args.repartition_by_url,
                           dedup_pages=args.dedup_pages,
                           dedup_postwrite=args.dedup_postwrite)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
