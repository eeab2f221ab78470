"""The workloads.  Each drives the program only through its public
functions, in one long-lived session, and checks every run outside the
timed interval.

- ``kg_er``: the durable checkpointed pipeline with its defaults
  (canonical map and N-Triples export on), on near-duplicate clusters of 5
  linked in pairs by a shared identifier, where a tenth of the edition and
  work clones cite one hot author.
- ``corpus_ops``: one pass over the 8 heavy near-duplicate and ANN queries
  on tables of the sf0.1 test data copied under ``perfbench/data``: its
  first 2,500 documents (of 5,000; all of them add about 3.5 s per pass, in
  the warm-up as in the timed pass, which the benchmark's time budget does
  not allow) and all 2,000 embeddings.  The seed picks the ANN query ids.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

import duckdb
import pyarrow.parquet as pq

import checks
import corpus

# layer of each stage table the durable pipeline writes
KG_LAYER = {"extract": "extract", "linked": "link", "edges": "dedup",
            "canonical_map": "cmap", "nodes": "materialize"}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its file footers."""
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


class KgEr:
    # layers whose per-layer metrics apply, and the spans a traced run must
    # record with at least one Spark job each
    layers = ("extract", "link", "dedup", "cmap", "materialize", "pipeline")
    required_spans = ([f"write_stage:{stage}" for stage in KG_LAYER]
                      + ["canonical_map", "export_ntriples_gz"])

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.lcsh_path = os.path.join(root, "data", "lcsh.parquet")
        self.con = duckdb.connect()
        self.runs = 0
        self.info: dict = {}

    # -- set-up ---------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the corpus and the golden edges (no Spark)."""
        self.pages = os.path.join(self.work, "pages")
        lines = corpus.kg_lines(corpus.seed_lines(self.root), self.seed)
        corpus.write_pages(lines, self.pages)
        self.n_pages = len(lines)
        lcsh = pq.read_table(self.lcsh_path).to_pylist()
        gold, self.names = checks.golden_edges(
            lines, [(r["label"], r["uri"]) for r in lcsh])
        self.con.register("golden_arrow", gold)
        self.con.execute("CREATE TABLE golden AS SELECT * FROM golden_arrow")
        self.con.unregister("golden_arrow")
        self.gold_path = os.path.join(self.work, "golden.parquet")
        pq.write_table(gold, self.gold_path)
        self.n_golden = gold.num_rows
        self.info.update(pages=self.n_pages, golden_triples=self.n_golden)

    def bind(self, spark) -> None:
        self.spark = spark
        self.lcsh = spark.read.parquet(self.lcsh_path)

    def warm_up(self) -> None:
        self.finish(self.run_once())

    # -- one run --------------------------------------------------------------
    def run_once(self) -> dict:
        from olkg import pipeline
        self.runs += 1
        out = os.path.join(self.work, f"out-{self.runs}")
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        m = pipeline.run_pipeline(self.spark, self.pages, out,
                                  lcsh=self.lcsh, resume=False)
        run_s = time.perf_counter() - t0
        return {"run_s": run_s, "out": out, "metrics": m,
                "rows": m["triples"]}

    def check(self, r: dict) -> list[str]:
        m, out = r["metrics"], r["out"]
        errs = []
        diff = checks.edge_diff(self.con, os.path.join(out, "edges", "**",
                                                      "*.parquet"))
        if diff != {"rows": self.n_golden, "extra": 0, "missing": 0}:
            errs.append(f"edges differ from golden ({self.n_golden} rows): "
                        f"{diff}")
        if m["triples"] != self.n_golden:
            errs.append(f"reported {m['triples']} triples, golden "
                        f"{self.n_golden}")
        if m["text_mismatches"] != 0 or m["pages"] != self.n_pages:
            errs.append(f"page audit: {m['pages']} pages, "
                        f"{m['text_mismatches']} text mismatches")
        errs += self.check_cmap(out)
        r["output_bytes"] = dir_bytes(out)
        return errs

    def finish(self, r: dict) -> None:
        shutil.rmtree(r["out"], ignore_errors=True)

    # -- tracing --------------------------------------------------------------
    def instrument(self, tracer) -> None:
        from olkg import pipeline
        tracer.wrap(pipeline, "write_stage",
                    lambda df, out, stage, *a, **k: f"write_stage:{stage}",
                    lambda df, out, stage, *a, **k: KG_LAYER.get(stage,
                                                                 "other"))
        tracer.wrap(pipeline, "append_lineage", "append_lineage", "lineage")
        tracer.wrap(pipeline, "canonical_map", "canonical_map", "cmap")
        tracer.wrap(pipeline, "export_ntriples_gz", "export_ntriples_gz",
                    "materialize")

    def traced_run(self, tracer) -> dict:
        with tracer.span("pipeline", "pipeline"):
            r = self.run_once()
        return r

    def oracle(self) -> None:
        """Canonical map by driver-side union-find over the program's
        blocking-key pairs of the golden edges and author names."""
        from olkg.canonicalize import blocking_keys
        spark = self.spark
        edges = spark.read.parquet(self.gold_path)
        names = spark.createDataFrame(self.names, "author_key string, "
                                                  "name string")
        pairs = [(r[0], r[1]) for r in
                 blocking_keys(edges, names).distinct().collect()]
        self.cmap, shape = checks.canonical_oracle(pairs)
        self.info["er_shape"] = shape
        self.con.execute("CREATE TABLE cmap_oracle (entity VARCHAR, "
                         "canonical_id VARCHAR)")
        self.con.executemany("INSERT INTO cmap_oracle VALUES (?, ?)",
                             sorted(self.cmap.items()))

    def check_cmap(self, out: str) -> list[str]:
        t = f"read_parquet('{os.path.join(out, 'canonical_map')}/*.parquet')"
        q = (f"SELECT count(*) FROM (SELECT entity, canonical_id FROM {t} "
             f"EXCEPT SELECT * FROM cmap_oracle)")
        extra = self.con.execute(q).fetchone()[0]
        missing = self.con.execute(
            f"SELECT count(*) FROM (SELECT * FROM cmap_oracle EXCEPT "
            f"SELECT entity, canonical_id FROM {t})").fetchone()[0]
        n = self.con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        if extra or missing or n != len(self.cmap):
            return [f"canonical_map differs from union-find "
                    f"({len(self.cmap)} rows): {n} rows, {extra} extra, "
                    f"{missing} missing"]
        return []

    def layer_extras(self, r: dict) -> dict:
        cm = r["metrics"]["stages"].get("canonical_map", {})
        contractions = cm.get("contractions") or [{}]
        linked = parquet_rows(os.path.join(r["out"], "linked"))
        return {"cmap.iterations": cm.get("iterations", 0),
                "cmap.frontier_rows": contractions[0].get("rows_after", 0),
                "dedup.kept_ratio": (r["metrics"]["triples"] / linked
                                     if linked else 0.0)}


# -- corpus ops ---------------------------------------------------------------

QUERIES = ["doc_ngram_jaccard", "doc_minhash_lsh", "doc_simhash_pairs",
           "doc_embedding_neardup", "ann_cosine_topk", "ann_lsh_topk",
           "ann_ivf_topk", "ann_ivf_materialized"]
TEXTOPS = {"doc_ngram_jaccard", "doc_minhash_lsh", "doc_simhash_pairs"}


class CorpusOps:
    layers = ("textops", "simsearch", "pipeline")
    required_spans = QUERIES
    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

    def __init__(self, root: str, work: str, seed: int):
        self.root, self.work, self.seed = root, work, seed
        self.runs = 0
        self.info: dict = {}

    def prepare(self) -> None:
        import __spark_entry__ as entry
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.data, t)}.parquet')")
        vec_ids = [r[0] for r in con.execute(
            "SELECT vec_id FROM embeddings ORDER BY vec_id").fetchall()]
        self.ids = sorted(random.Random(self.seed).sample(vec_ids, 10))
        sql = entry.oracle_sql()
        self.oracle_rows = {}
        id_list = f"vec_id IN ({', '.join(map(str, self.ids))})"
        for q in QUERIES:
            text = sql[q]
            if q.startswith("ann_"):
                if "vec_id < 10" not in text:
                    raise RuntimeError(f"{q}: oracle has no query-id filter")
                text = text.replace("vec_id < 10", id_list)
            self.oracle_rows[q] = checks.normalized_rows(
                con.execute(text).fetchdf())
        con.close()
        self.info.update(vectors=len(vec_ids), query_ids=self.ids,
                         oracle_rows={q: len(v[1])
                                      for q, v in self.oracle_rows.items()})

    def bind(self, spark) -> None:
        self.spark = spark

    def oracle(self) -> None:
        """The DuckDB oracle needs no Spark; computed in :meth:`prepare`."""

    def _emb(self):
        from pyspark.sql import functions as F
        return self.spark.read.parquet(
            os.path.join(self.data, "embeddings.parquet")).withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double")))

    def build(self, q: str):
        """The query's DataFrame; some builders run eager jobs here.  The
        near-dup queries are the program's own; the ANN queries take the
        seed's query ids."""
        import __spark_entry__ as entry
        from olkg import simsearch
        s, ids = self.spark, self.ids
        if not q.startswith("ann_"):
            return getattr(entry, f"q_{q}")(s, self.data)
        if q == "ann_cosine_topk":
            return simsearch.cosine_topk_bruteforce(self._emb(),
                                                    query_ids=ids, k=5)
        if q == "ann_lsh_topk":
            return simsearch.cosine_topk_lsh(
                self._emb(), query_ids=ids, k=5,
                planes=s.read.parquet(entry.PLANES))
        if q == "ann_ivf_topk":
            return simsearch.ivf_topk(self._emb(),
                                      s.read.parquet(entry.CENTROIDS),
                                      query_ids=ids, k=5, nprobe=4)
        # the layout is built once, in the warm-up pass; later calls reuse
        # it and the session's handles on it
        path = entry.ensure_ivf_materialized(s, self.data)
        corpus, ids_index, cents = entry._ivf_handles(s, path)
        return simsearch.ivf_topk_materialized(
            s, path, cents, query_ids=ids, k=5, nprobe=4, corpus=corpus,
            ids_index=ids_index)

    def warm_up(self) -> None:
        self.finish(self.run_once())

    def run_once(self, tracer=None) -> dict:
        """One pass: each query from DataFrame construction through a
        parquet write of every column, which the check then reads back."""
        self.runs += 1
        out = os.path.join(self.work, f"out-{self.runs}")
        walls = {}
        for q in QUERIES:
            layer = "textops" if q in TEXTOPS else "simsearch"
            span = tracer.span(q, layer) if tracer else nullcontext()
            t0 = time.perf_counter()
            with span:
                self.build(q).write.mode("overwrite").parquet(
                    os.path.join(out, q))
            walls[q] = time.perf_counter() - t0
        return {"run_s": sum(walls.values()), "walls": walls, "out": out}

    def check(self, r: dict) -> list[str]:
        errs, rows = [], 0
        for q in QUERIES:
            got = checks.normalized_rows(
                pq.read_table(os.path.join(r["out"], q)).to_pandas())
            rows += len(got[1])
            want = self.oracle_rows[q]
            if got != want:
                errs.append(f"{q}: {len(got[1])} rows vs oracle "
                            f"{len(want[1])} (columns {got[0]} vs {want[0]})")
        r["rows"] = rows
        r["output_bytes"] = dir_bytes(r["out"])
        return errs

    def finish(self, r: dict) -> None:
        shutil.rmtree(r["out"], ignore_errors=True)

    def instrument(self, tracer) -> None:
        pass

    def traced_run(self, tracer) -> dict:
        with tracer.span("corpus_pass", "pipeline"):
            return self.run_once(tracer)

    def layer_extras(self, r: dict) -> dict:
        from olkg.textops import minhash_lsh_candidates
        docs = self.spark.read.parquet(
            os.path.join(self.data, "documents.parquet"))
        cands = minhash_lsh_candidates(docs, n=3, num_perm=16,
                                       bands=16).count()
        verified = len(self.oracle_rows["doc_minhash_lsh"][1])
        return {"textops.minhash.verified_ratio":
                verified / cands if cands else 0.0}


WORKLOADS = {"kg_er": KgEr, "corpus_ops": CorpusOps}
