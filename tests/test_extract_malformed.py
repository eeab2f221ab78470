"""Both extract policies ≡ the pure-Python spec path, on malformed input.

The durable policy (:func:`olkg.extract.extract_pages` streaming every kind)
and the fast policy (the same kernel streaming only the direct triples while
the other kinds go to its side sink, read back with
:func:`olkg.extract.read_side_rows`) must each emit exactly the triple set
``olkg.triples.extract_line`` emits — over the fixture corpus and over
adversarial lines: broken JSON, too few columns, a JSON array, duplicate
keys, escaped or dot-segment keys, float/bool/dict field shapes.  Lines the
semantics skip are skipped by both; a page whose html envelope is not UTF-8
fails the run loudly instead of being dropped.
"""

import json

import pytest

from olkg.extract import extract_pages, read_side_rows
from olkg.fixtures import corpus_lines
from olkg.pagesgen import text_to_html
from olkg.triples import extract_line

PAGES_DDL = "url string, html binary, text string"


def _ed(key, **fields):
    d = {"key": key, **fields}
    return f"/type/edition\t{key}\t1\t2020-01-01\t{json.dumps(d)}"


ADVERSARIAL = [
    # floats, >64-bit ints, dicts and bools in generic fields
    _ed("/books/F1", publishers=["Acme", 1.5]),
    _ed("/books/F2", number_of_pages=3.0),
    _ed("/books/F3", pagination=123456789012345678901234567890),
    _ed("/books/C1", pagination={"a": 1}, publishers=["Real"]),
    _ed("/books/C2", publishers=[True, "x"], by_statement=False),
    _ed("/books/C3", number_of_pages=336, other_titles=[7, "t"]),
    _ed("/books/C4", publishers=["", None, "Keep"]),
    # title machinery: prefix concat, empty/dict/bool subtitles, non-str title
    _ed("/books/T1", title="T", title_prefix="The ", subtitle=""),
    _ed("/books/T3", title="", subtitle="Sub"),
    _ed("/books/T4", title="T", title_prefix=7),
    _ed("/books/T5", title="T", subtitle={"x": 1}),
    _ed("/books/T6", title="T", subtitle=False),
    _ed("/books/T7", title=42),
    # languages and covers of every element shape
    _ed("/books/L1", languages=[{"key": "/languages/eng"}, {"key": "/l/fr"},
                                {"key": 9}, {"key": ""}, "x", {"n": 1}]),
    _ed("/books/L2", languages=[{"key": " eng "}]),
    _ed("/books/L3", languages={"key": "/languages/eng"}),
    _ed("/books/V1", covers=[111, None, "22"]),
    _ed("/books/V3", covers=[True]),
    _ed("/books/V4", covers=[[1, 2]]),
    _ed("/books/V5", covers={"a": 1}),
    # key shapes that URI normalization rewrites
    _ed("/books/K%20A", title="T"),
    _ed("/books/../K", title="T"),
    # duplicate JSON keys: the last one wins
    '/type/edition\t/books/D1\t1\t2020\t'
    '{"key": "/books/D1", "title": "A", "title": "B"}',
    # malformed lines: skipped by every path
    "/type/edition\t/books/M1\t1",
    "/type/edition\t/books/M2\t1\t2020\t{broken",
    "/type/edition\t/books/M3\t1\t2020\t[1,2]",
    '/type/unknown\t/x/U1\t1\t2020\t{"key": "/x/U1"}',
    '/type/author\t/authors/A1\t1\t2020\t{"key": "/authors/A1", "name": "N"}',
]


def _pages(spark, lines):
    return spark.createDataFrame(
        [(f"http://page/{i}", text_to_html(ln), ln)
         for i, ln in enumerate(lines)], PAGES_DDL)


def _python_triples(lines):
    out = set()
    for ln in lines:
        res = extract_line(ln)
        if res is not None:
            out |= {t.as_tuple() for t in res.triples}
    return out


def _durable_triples(pages):
    """Direct (kind='triple') ∪ collision-class (kind='collision') rows."""
    rows = (extract_pages(pages).filter("kind IN ('triple', 'collision')")
            .select("subj", "pred", "obj", "obj_kind", "obj_datatype")
            .collect())
    return set(map(tuple, rows))


def _single_pass_triples(spark, pages, sink):
    """Direct stream ∪ the collision-class triples routed to the sink."""
    acc = spark.sparkContext.accumulator(0)
    direct = set(map(tuple, extract_pages(
        pages, side_sink=sink, side_count_acc=acc).collect()))
    sides = read_side_rows(spark, sink, expected_rows=acc.value)
    routed = set(map(tuple, sides.filter("kind = 'collision'").select(
        "subj", "pred", "obj", "obj_kind", "obj_datatype").collect()))
    assert not direct & routed, "a triple took both routes"
    return direct | routed


def _check_both_paths(spark, lines, sink):
    want = _python_triples(lines)
    pages = _pages(spark, lines)
    assert _durable_triples(pages) == want
    assert _single_pass_triples(spark, pages, sink) == want
    return want


def test_spark_extract_matches_python_on_fixture_corpus(spark, tmp_path):
    want = _check_both_paths(spark, corpus_lines(include_reference=True),
                             str(tmp_path / "sides"))
    assert len(want) > 500


def test_spark_extract_matches_python_on_adversarial_lines(spark, tmp_path):
    want = _check_both_paths(spark, ADVERSARIAL, str(tmp_path / "sides"))
    subjects = {t[0] for t in want}
    # the lines the semantics reject produce nothing on any path ...
    for key in ("M1", "M2", "M3", "U1"):
        assert not any(s.endswith(key) for s in subjects), key
    # ... while the odd-but-valid shapes still extract
    assert "http://openlibrary.org/books/C4" in subjects
    assert ("http://openlibrary.org/books/D1" in subjects
            and not any(t[0].endswith("/D1") and t[2] == "A" for t in want))


def test_non_utf8_html_fails_loudly(spark, tmp_path):
    """An html envelope holding non-UTF-8 bytes is never silently dropped:
    the JVM-side decode both policies share raises
    MALFORMED_CHARACTER_CODING."""
    line = _ed("/books/U8", title="T")
    bad = (b"<html><body><pre>" + line.encode("utf-8") + b"\xff\xfe"
           + b"</pre></body></html>")
    pages = spark.createDataFrame([("http://page/u8", bad, line)], PAGES_DDL)
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        extract_pages(pages).collect()
    with pytest.raises(Exception, match="MALFORMED_CHARACTER_CODING"):
        extract_pages(pages, side_sink=str(tmp_path / "sides")).collect()
