"""Oracles and output checks.  Every oracle is computed once, in set-up;
every check runs outside the timed interval."""

from __future__ import annotations

import math
from collections import defaultdict
from decimal import Decimal

import duckdb
import pyarrow as pa

EDGE_COLS = ["subj", "pred", "obj", "obj_kind", "obj_datatype"]
EDGE_SCHEMA = pa.schema([(c, pa.string()) for c in EDGE_COLS])


def golden_edges(lines: list[str], lcsh_rows: list[tuple[str, str]]):
    """Golden triple set and the (author_key, name) rows of the corpus,
    both from the program's single-process semantics."""
    from olkg.golden import golden_triples
    from olkg.triples import extract_line

    gold = golden_triples(lines, dict(lcsh_rows))
    names = set()
    for line in lines:
        res = extract_line(line)
        if res is not None:
            names.update(res.author_names)
    cols = list(zip(*gold)) if gold else [[]] * len(EDGE_COLS)
    table = pa.table({c: pa.array(v, pa.string())
                      for c, v in zip(EDGE_COLS, cols)}, schema=EDGE_SCHEMA)
    return table, sorted(names)


def edge_diff(con: duckdb.DuckDBPyConnection, edges_glob: str) -> dict:
    """Rows of the run's edge table, and its differences from ``golden``
    (a table registered on ``con``) in both directions."""
    out = (f"SELECT {', '.join(EDGE_COLS)} "
           f"FROM read_parquet('{edges_glob}', union_by_name=true)")
    n = con.execute(f"SELECT count(*) FROM ({out})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM ({out} EXCEPT SELECT * FROM golden)").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM golden EXCEPT {out})").fetchone()[0]
    return {"rows": n, "extra": extra, "missing": missing}


class UnionFind:
    def __init__(self):
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent.setdefault(root, root) != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def canonical_oracle(pairs: list[tuple[str, str]],
                     max_block_df: int = 100_000):
    """(entity -> canonical id) by union-find over (entity, block_key)
    pairs, merging only through keys shared by 2..max_block_df entities;
    the canonical id is the smallest entity URI of the component.  Also
    returns the component sizes and the longest shortest path between two
    entities of one component, counted in shared-key hops."""
    members: dict[str, set[str]] = defaultdict(set)
    for entity, key in pairs:
        members[key].add(entity)
    blocks = [sorted(m) for m in members.values()
              if 2 <= len(m) <= max_block_df]
    uf = UnionFind()
    adj: dict[str, set[str]] = defaultdict(set)
    for ents in blocks:
        for e in ents[1:]:
            uf.union(ents[0], e)
        for e in ents:
            adj[e].update(ents)
    comps: dict[str, list[str]] = defaultdict(list)
    for e in adj:
        comps[uf.find(e)].append(e)
    cmap = {e: min(c) for c in comps.values() for e in c}
    sizes: dict[int, int] = defaultdict(int)
    for c in comps.values():
        sizes[len(c)] += 1
    chain = max((_eccentricity(adj, e) for e in adj), default=0)
    return cmap, {"components": dict(sorted(sizes.items())),
                  "longest_chain": chain}


def _eccentricity(adj: dict[str, set[str]], start: str) -> int:
    seen, frontier, depth = {start}, [start], 0
    while frontier:
        nxt = [n for e in frontier for n in adj[e] if n not in seen]
        seen.update(nxt)
        frontier = list(set(nxt))
        if frontier:
            depth += 1
    return depth


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        return f"{v.normalize():f}" if v != 0 else "0"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.12g}"
    return str(v)


def normalized_rows(df) -> tuple[list[str], list[tuple]]:
    """Sorted column names and sorted, normalized rows of a pandas frame
    (floats at 12 significant digits), for order-insensitive equality."""
    cols = sorted(df.columns)
    rows = sorted(tuple(_norm_cell(v) for v in r)
                  for r in df[cols].itertuples(index=False, name=None))
    return cols, rows
