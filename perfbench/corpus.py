"""Seeded input generators for the benchmark workloads.

KG corpora are cloned from the 30 dump lines held in the ``text`` column of
``data/pages.parquet``.  The seed changes entity keys, identifiers, author
names and which clones point at the hot author; it never changes the corpus
size or the shape of the near-duplicate clusters and identifier chains.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import random
import re
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

HTML_PREFIX = b"<html><body><pre>"
HTML_SUFFIX = b"</pre></body></html>"

_ISBN_FIELDS = ("isbn_10", "isbn_13", "isbn", "isbn10", "isbn13")
_LCCN_FIELDS = ("lccn", "lccns")
_OCLC_FIELDS = ("oclc_numbers", "oclc_number")
_NAME_FIELDS = ("name", "personal_name", "fuller_name")
_REF_FIELDS = ("authors", "works", "volumes")
HOT_AUTHOR_BASE = "/authors/HOT1A"

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


# Every seed line is cloned CLONES times.  Consecutive clones form
# near-duplicate clusters of CLUSTER_SIZE that share identifiers and author
# names, and the last member of every even cluster also carries an
# identifier of the next cluster, so clusters are linked in pairs.  A
# HOT_FRACTION of edition and work clones point every author ref at one hot
# author.
CLONES = 10
CLUSTER_SIZE = 5
HOT_FRACTION = 0.1


def seed_lines(root: str) -> list[str]:
    """The dump lines of the committed pages table, in file order."""
    path = os.path.join(root, "data", "pages.parquet")
    return pq.read_table(path, columns=["text"]).column("text").to_pylist()


def _digest(*parts) -> bytes:
    return hashlib.blake2b("|".join(map(str, parts)).encode("utf-8"),
                           digest_size=16).digest()


def _isbn13(*parts) -> str:
    """A valid ISBN-13 (check digit recomputed) so extraction keeps it."""
    digits = "978" + str(int.from_bytes(_digest(*parts)[:8], "big") % 10**9).zfill(9)
    check = (10 - sum((1 if i % 2 == 0 else 3) * int(d)
                      for i, d in enumerate(digits)) % 10) % 10
    return digits + str(check)


def _isbn_like(s: str) -> bool:
    """Invalid ISBNs stay as they are, so extraction still drops them."""
    return len(re.sub(r"[^0-9Xx]", "", s)) in (10, 13)


def _digits(n: int, *parts) -> str:
    return str(int.from_bytes(_digest(*parts)[:8], "big") % 10**n).zfill(n)


_B36 = "abcdefghijklmnopqrstuvwxyz0123456789"


class _Names:
    """Injective (name, cluster) -> initials such as ``"K. 7. Q."``.

    Name matching normalizes to lower-case letters and digits, so every
    generated name is one 3-gram of its own: names of different clusters
    never share a MinHash band, and near-dup clusters merge only where
    the generator links them.  The seed permutes the code space."""

    def __init__(self, seed: int):
        h = int.from_bytes(_digest("names", seed)[:8], "big")
        self.mul = 6 * (h % 7000) + 1       # odd, not a multiple of 3
        self.add = h % 36 ** 3
        self.codes: dict[tuple, str] = {}

    def __call__(self, name: str, cluster: int) -> str:
        key = (name, cluster)
        if key not in self.codes:
            if len(self.codes) == 36 ** 3:
                raise ValueError("more than 36**3 distinct author names")
            i = (len(self.codes) * self.mul + self.add) % 36 ** 3
            self.codes[key] = ". ".join(
                _B36[i // 36 ** k % 36].upper() for k in range(3)) + "."
        return self.codes[key]


def _map_values(v, fn):
    if isinstance(v, list):
        return [fn(x) if isinstance(x, str) and x else x for x in v]
    if isinstance(v, str) and v:
        return fn(v)
    return v


def _identity(data: dict, rtype: str, seed: int, cluster: int,
              names: _Names) -> None:
    """Give a record the identifiers and names of its near-dup cluster."""
    for f in _ISBN_FIELDS:
        if f in data:
            data[f] = _map_values(data[f], lambda x: _isbn13(seed, x, cluster)
                                  if _isbn_like(x) else x)
    for f in _LCCN_FIELDS:
        if f in data:
            data[f] = _map_values(
                data[f], lambda x: "n" + _digits(10, seed, x, cluster))
    for f in _OCLC_FIELDS:
        if f in data:
            data[f] = _map_values(data[f],
                                  lambda x: _digits(11, seed, x, cluster))
    if rtype == "/type/author":
        for f in _NAME_FIELDS + ("alternate_names",):
            if f in data:
                data[f] = _map_values(data[f], lambda x: names(x, cluster))


def _chain_link(data: dict, base: dict, seed: int, cluster: int) -> None:
    """Add the next cluster's first identifier to this record."""
    for fields, fn in ((_ISBN_FIELDS, lambda x: _isbn13(seed, x, cluster + 1)),
                       (_LCCN_FIELDS,
                        lambda x: "n" + _digits(10, seed, x, cluster + 1)),
                       (_OCLC_FIELDS,
                        lambda x: _digits(11, seed, x, cluster + 1))):
        for f in fields:
            v = base.get(f)
            first = v[0] if isinstance(v, list) and v else v
            if isinstance(first, str) and first:
                cur = data[f] if isinstance(data[f], list) else [data[f]]
                data[f] = cur + [fn(first)]
                return


def _rekey(data: dict, suffix: str) -> None:
    if isinstance(data.get("key"), str):
        data["key"] += suffix
    for f in _REF_FIELDS:
        for item in data.get(f) or []:
            if not isinstance(item, dict):
                continue
            if isinstance(item.get("key"), str):
                item["key"] += suffix
            ref = item.get("author")
            if isinstance(ref, dict) and isinstance(ref.get("key"), str):
                ref["key"] += suffix


def _point_at(data: dict, author_key: str) -> None:
    for item in data.get("authors") or []:
        if isinstance(item, dict):
            if isinstance(item.get("author"), dict):
                item["author"]["key"] = author_key
            elif "key" in item:
                item["key"] = author_key


def kg_lines(lines: list[str], seed: int) -> list[str]:
    """Clone the seed lines into a corpus of ``len(lines) * CLONES`` dump
    lines."""
    tag = _digits(6, "tag", seed)
    rng = random.Random(seed)
    names = _Names(seed)
    hot_key = HOT_AUTHOR_BASE + f"_{tag}c0"
    out = []
    for line in lines:
        rtype, _key, rev, date, raw = line.split("\t", 4)
        base = json.loads(raw)
        for i in range(CLONES):
            cluster = i // CLUSTER_SIZE
            d = copy.deepcopy(base)
            _rekey(d, f"_{tag}c{i}")
            _identity(d, rtype, seed, cluster, names)
            if (cluster % 2 == 0 and i % CLUSTER_SIZE == CLUSTER_SIZE - 1
                    and i + 1 < CLONES):
                _chain_link(d, base, seed, cluster)
            if (rtype in ("/type/edition", "/type/work")
                    and rng.random() < HOT_FRACTION):
                _point_at(d, hot_key)
            out.append("\t".join([rtype, d.get("key", ""), rev, date,
                                  json.dumps(d, ensure_ascii=False,
                                             separators=(", ", ": "))]))
    return out


def _html(line: str) -> bytes:
    esc = line.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    return HTML_PREFIX + esc.encode("utf-8") + HTML_SUFFIX


def write_pages(lines: list[str], path: str, files: int = 8) -> None:
    """Write a pages table (url, warc_ts, html, text, lang) as ``files``
    parquet files, so the scan has one split per file at least."""
    os.makedirs(path, exist_ok=True)
    ts = datetime(2020, 1, 1, tzinfo=timezone.utc)
    rows = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    for line in lines:
        rows["url"].append("http://openlibrary.org" + line.split("\t", 2)[1])
        rows["warc_ts"].append(ts)
        rows["html"].append(_html(line))
        rows["text"].append(line)
        rows["lang"].append("en")
    table = pa.table(rows, schema=PAGES_SCHEMA)
    step = -(-len(lines) // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(path, f"part-{f:03d}.parquet"))
