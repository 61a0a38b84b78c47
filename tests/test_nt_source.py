"""N-Triples source + escaping tests (reference src/nt.rs:165-219 parser,
src/nt.rs:280-304 write->read round-trip)."""

from __future__ import annotations

from hdtspark import export, pipeline, sources
from hdtspark.query import ids_to_strings

NASTY = [
    # (s, p, o) in canonical in-memory encoding (raw characters in literals)
    ("http://ex.org/s1", "http://ex.org/p", 'http://ex.org/o1'),
    ("http://ex.org/s1", "http://ex.org/p", '"plain literal"'),
    ("http://ex.org/s2", "http://ex.org/p", '"with \"inner quotes\""'),
    ("http://ex.org/s2", "http://ex.org/p", '"back\\slash and\ttab"'),
    ("http://ex.org/s3", "http://ex.org/p", '"line\nbreak\rreturn"'),
    ("http://ex.org/s3", "http://ex.org/p", '"42"^^<http://www.w3.org/2001/XMLSchema#integer>'),
    ("http://ex.org/s4", "http://ex.org/p", '"hola"@es'),
    ("_:b0", "http://ex.org/p", "_:b1"),
]


def _tri_df(spark):
    return spark.createDataFrame(NASTY, "s string, p string, o string")


def test_escape_roundtrip_nasty_literals(spark):
    lines = export.nt_lines(_tri_df(spark))
    # serialized output must be single-line and NT-escaped
    for r in lines.collect():
        v = r["value"]
        assert "\n" not in v and "\r" not in v and "\t" not in v
    back = sources.parse_nt_lines(lines)
    assert set(map(tuple, back.collect())) == set(NASTY)


def test_parse_skips_comments_blank_and_malformed(spark):
    raw = spark.createDataFrame(
        [("# a comment",), ("",), ("   ",),
         ("<http://a> <http://p> <http://b> .",),
         ("this is not a triple",),
         ('<http://a> <http://p> "lit" .',)],
        "value string")
    got = set(map(tuple, sources.parse_nt_lines(raw).collect()))
    assert got == {("http://a", "http://p", "http://b"),
                   ("http://a", "http://p", '"lit"')}


def test_full_file_roundtrip_via_kg(kg, tmp_path):
    """write_nt -> read_nt -> identical enumeration (ref src/nt.rs:280-304)."""
    path = str(tmp_path / "kg.nt")
    export.write_nt(kg, path)
    spark = kg.spo.sparkSession
    back = sources.read_nt(spark, path)
    orig = set(map(tuple, ids_to_strings(kg, kg.spo).collect()))
    assert set(map(tuple, back.collect())) == orig


def test_build_kg_from_nt_file(spark, tmp_path):
    """NT file -> read_nt -> build_kg_from_triples -> same triples back."""
    path = str(tmp_path / "in.nt")
    export.nt_lines(_tri_df(spark)).coalesce(1).write.mode("overwrite").text(path)
    tri = sources.read_nt(spark, path)
    kg2 = pipeline.build_kg_from_triples(tri, with_adjacency=False)
    assert set(map(tuple, ids_to_strings(kg2, kg2.spo).collect())) == set(NASTY)


def test_cli_import_nt_roundtrip(spark, kg, tmp_path, run_cli):
    """export-nt -> import-nt -> query returns the same enumeration."""
    from hdtspark import export

    nt_dir = str(tmp_path / "nt")
    wh = str(tmp_path / "wh")
    export.write_nt(kg, nt_dir)
    assert run_cli(["import-nt", "--input", nt_dir, "--warehouse", wh]) == 0
    spo = spark.read.parquet(f"{wh}/spo/data")
    assert sorted(map(tuple, spo.collect())) == \
        sorted(map(tuple, kg.spo.collect()))
