"""HDT binary format tests: byte-golden vectors for every codec layer plus
full write->read round-trips (reference src/hdt.rs:79-89,195-202 and the
container tests in src/containers/)."""

from __future__ import annotations

import io

import pytest

from hdtspark import hdt_binary as hb


# --- byte-golden codec vectors -----------------------------------------------

def test_vbyte_golden():
    # MSB marks the LAST byte; 7-bit little-endian groups
    assert hb.vbyte_encode(0) == b"\x80"
    assert hb.vbyte_encode(127) == b"\xff"
    assert hb.vbyte_encode(128) == b"\x00\x81"
    assert hb.vbyte_encode(16383) == b"\x7f\xff"  # 127 + (127 << 7)
    for n in [0, 1, 127, 128, 300, 2**20, 2**40 + 12345]:
        assert hb.vbyte_decode(hb.vbyte_encode(n))[0] == n


def test_crc_check_vectors():
    data = b"123456789"
    assert hb.crc8(data) == 0xF4       # CRC-8/SMBUS
    assert hb.crc16(data) == 0xBB3D    # CRC-16/ARC
    assert hb.crc32c(data) == 0xE3069283  # CRC-32/ISCSI


def test_pack_bits_little_endian_lsb_first():
    #  values 1,2,3 at 2 bits: 0b11_10_01 = 0x39
    assert hb.pack_bits([1, 2, 3], 2) == b"\x39"
    assert hb.unpack_bits(b"\x39", 2, 3) == [1, 2, 3]
    # 9-bit values straddle byte boundaries
    vals = [257, 511, 0, 300]
    packed = hb.pack_bits(vals, 9)
    assert len(packed) == (9 * 4 + 7) // 8
    assert hb.unpack_bits(packed, 9, 4) == vals


def test_pfc_block_golden():
    packed, offsets = hb.pfc_compress(["apple", "applesauce", "banana"], 2)
    # block 0: "apple\0" + vbyte(5) + "sauce\0"; block 1: "banana\0"
    assert packed == b"apple\x00\x85sauce\x00banana\x00"
    assert offsets == [0, 13, 20]


# --- container round-trips ---------------------------------------------------

def test_control_info_roundtrip():
    buf = io.BytesIO()
    ci = hb.ControlInfo(hb.TYPE_TRIPLES, hb.FORMAT_TRIPLES_BITMAP,
                        {"order": "1", "numTriples": "42"})
    ci.write(buf)
    buf.seek(0)
    got = hb.ControlInfo.read(buf)
    assert got == ci
    # corruption is detected
    raw = bytearray(buf.getvalue())
    raw[5] ^= 0xFF
    with pytest.raises(ValueError):
        hb.ControlInfo.read(io.BytesIO(bytes(raw)))


def test_sequence_roundtrip():
    for vals in [[], [0], [1, 2, 3], [2**40, 0, 17], list(range(100))]:
        buf = io.BytesIO()
        hb.write_sequence(buf, vals)
        buf.seek(0)
        assert hb.read_sequence(buf) == vals


def test_bitmap_roundtrip():
    for bits in [[], [True], [True, False] * 37, [False] * 65 + [True]]:
        buf = io.BytesIO()
        hb.write_bitmap(buf, bits)
        buf.seek(0)
        assert hb.read_bitmap(buf) == bits


def test_pfc_section_roundtrip():
    terms = sorted({f"http://ex.org/e/{i:04d}" for i in range(100)}
                   | {'"литерал с ЮНИКОДОМ"', '"a"', "_:b1"})
    buf = io.BytesIO()
    hb.write_pfc_section(buf, terms, block_size=8)
    buf.seek(0)
    assert hb.read_pfc_section(buf) == terms


def test_triple_layers_roundtrip():
    triples = [(1, 1, 1), (1, 1, 2), (1, 2, 1), (2, 1, 3), (3, 4, 5), (3, 4, 6)]
    layers = hb._triples_to_layers(triples)
    assert hb._layers_to_triples(*layers) == triples
    bm_y, bm_z, seq_y, seq_z = layers
    assert seq_y == [1, 2, 1, 4]
    assert bm_y == [False, True, True, True]  # last pair of each subject
    assert seq_z == [1, 2, 1, 3, 5, 6]
    assert bm_z == [False, True, True, True, False, True]


# --- whole-file round-trips --------------------------------------------------

def test_hdt_file_roundtrip(tmp_path):
    data = hb.HdtData(
        shared=["http://ex.org/both"],
        subjects=["http://ex.org/s1", "http://ex.org/s2"],
        predicates=["http://ex.org/p"],
        objects=['"literal"', '"число"^^<http://x>'],
        triples=[(1, 1, 1), (1, 1, 2), (2, 1, 3), (3, 1, 1)],
        header_nt='_:statistics <http://rdfs.org/ns/void#triples> "4" .\n',
    )
    path = str(tmp_path / "t.hdt")
    hb.write_hdt(path, data)
    got = hb.read_hdt(path)
    assert got == data


SNIKMETA = "/root/reference/tests/resources/snikmeta.hdt"


@pytest.mark.skipif(not __import__("os").path.exists(SNIKMETA),
                    reason="reference fixture not present")
def test_read_real_hdt_artifact():
    """Interop: parse a REAL .hdt file produced by standard HDT tooling and
    reproduce the reference's golden fixture numbers (src/hdt.rs:462-469)
    and its SPARQL test triple (src/sparql.rs:114-120), CRCs validated."""
    d = hb.read_hdt(SNIKMETA)
    assert (len(d.shared), len(d.subjects), len(d.predicates),
            len(d.objects)) == (43, 6, 23, 133)
    assert len(d.triples) == 328

    n_sh = len(d.shared)

    def subj(i):
        return d.shared[i - 1] if i <= n_sh else d.subjects[i - 1 - n_sh]

    def obj(i):
        return d.shared[i - 1] if i <= n_sh else d.objects[i - 1 - n_sh]

    strs = {(subj(s), d.predicates[p - 1], obj(o)) for s, p, o in d.triples}
    assert ("http://www.snik.eu/ontology/meta/хобби-N-0",
            "http://www.w3.org/2000/01/rdf-schema#label",
            '"ХОББИ"@ru') in strs


@pytest.mark.skipif(not __import__("os").path.exists(SNIKMETA),
                    reason="reference fixture not present")
def test_rewrite_real_hdt_artifact(tmp_path):
    """Real-world data round-trips through OUR writer byte-semantically."""
    d = hb.read_hdt(SNIKMETA)
    path = str(tmp_path / "rt.hdt")
    hb.write_hdt(path, d)
    assert hb.read_hdt(path) == d


def test_kg_hdt_roundtrip(spark, kg, tmp_path):
    """Full KG -> .hdt -> KG: identical dictionary and identical SPO ids."""
    path = str(tmp_path / "kg.hdt")
    hb.write_hdt_file(kg, path)
    kg2 = hb.read_hdt_spark(spark, path)
    for sec in ("shared", "subjects", "predicates", "objects"):
        a = sorted(map(tuple, getattr(kg.dict, sec).collect()))
        b = sorted(map(tuple, getattr(kg2.dict, sec).collect()))
        assert a == b, sec
    assert sorted(map(tuple, kg.spo.collect())) == \
        sorted(map(tuple, kg2.spo.collect()))


# --- corrupt/hostile input regressions ----------------------------------------

def test_control_info_truncated_raises_not_hangs():
    # EOF mid-scan must raise (a b'' read used to spin the nul-scan forever)
    buf = io.BytesIO()
    hb.ControlInfo(hb.TYPE_GLOBAL, hb.FORMAT_CONTAINER).write(buf)
    full = buf.getvalue()
    for cut in (4, 5, 7, len(full) - 3):  # after cookie / type / mid-format
        with pytest.raises(ValueError):
            hb.ControlInfo.read(io.BytesIO(full[:cut]))


def test_triples_to_layers_rejects_subject_gaps_and_unsorted():
    with pytest.raises(ValueError, match="contiguous"):
        hb._triples_to_layers([(1, 1, 1), (3, 1, 1)])
    with pytest.raises(ValueError, match="contiguous"):
        hb._triples_to_layers([(2, 1, 1)])  # must start at 1
    with pytest.raises(ValueError, match="sorted"):
        hb._triples_to_layers([(1, 2, 1), (1, 1, 1)])


def test_pack_bits_large_is_linear_not_quadratic():
    # 400k 24-bit values: the old bigint accumulator took ~30s+; the
    # vectorized path is well under a second — assert correctness at a size
    # that would time out the quadratic implementation.
    import time
    vals = [(i * 2654435761) % (1 << 24) for i in range(400_000)]
    t0 = time.monotonic()
    packed = hb.pack_bits(vals, 24)
    got = hb.unpack_bits(packed, 24, len(vals))
    assert got == vals
    assert len(packed) == (24 * len(vals) + 7) // 8
    assert time.monotonic() - t0 < 10.0


# --- streaming writer + full VOID header ---------------------------------------

def test_write_hdt_file_streaming_matches_in_memory(spark, kg, tmp_path):
    """The streaming writer and the in-memory writer produce files with
    identical decoded content (sections, triples) and a full VOID header."""
    p_stream = str(tmp_path / "stream.hdt")
    p_mem = str(tmp_path / "mem.hdt")
    hb.write_hdt_file(kg, p_stream)
    hb.write_hdt(p_mem, hb.kg_to_hdt_data(kg))
    a, b = hb.read_hdt(p_stream), hb.read_hdt(p_mem)
    assert (a.shared, a.subjects, a.predicates, a.objects) == \
        (b.shared, b.subjects, b.predicates, b.objects)
    assert a.triples == b.triples


def test_exported_header_carries_void_stats(spark, kg, golden_void,
                                            tmp_path):
    """fill_header parity (reference src/nt.rs:47-113): the exported header
    parses back and matches the golden graph's VOID statistics, counted in
    plain Python (the header's own come from the dictionary)."""
    path = str(tmp_path / "hdr.hdt")
    hb.write_hdt_file(kg, path)
    data = hb.read_hdt(path)
    props = hb.parse_header_nt(data.header_nt)
    void = golden_void

    base = f"file://{path}"
    v = hb.VOCAB
    assert props[(base, v["VOID_TRIPLES"])] == str(void["num_triples"])
    assert props[(base, v["VOID_PROPERTIES"])] == str(void["num_predicates"])
    assert props[(base, v["VOID_DISTINCT_SUBJECTS"])] == str(void["distinct_subjects"])
    assert props[(base, v["VOID_DISTINCT_OBJECTS"])] == str(void["distinct_objects"])
    assert props[("_:dictionary", v["HDT_DICT_SHARED_SO"])] == str(kg.dict.n_shared)
    assert props[("_:dictionary", v["HDT_DICT_MAPPING"])] == "1"
    assert props[("_:dictionary", v["HDT_DICT_BLOCK_SIZE"])] == str(hb.BLOCK_SIZE)
    assert int(props[("_:dictionary", v["HDT_DICT_SIZE_STRINGS"])]) > 0
    assert props[("_:triples", v["HDT_TRIPLES_ORDER"])] == "SPO"
    assert props[("_:triples", v["DC_TERMS_FORMAT"])] == v["HDT_TYPE_BITMAP"]
    assert props[("_:triples", v["HDT_NUM_TRIPLES"])] == str(void["num_triples"])
