"""The CLI's warehouse paths: HDT and N-Triples import, `info`, reruns and
missing warehouses, all through ``checkpoint``'s one stage chain."""

from __future__ import annotations

import json

import pytest

from hdtspark import checkpoint, rules, synth

TURN7 = rules.turn_iri(synth.conv_id_for(7), 0)
VOID_KEYS = ("num_triples", "distinct_subjects", "distinct_objects",
             "num_predicates")


@pytest.fixture(scope="module")
def built_wh(spark, transcripts, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("cli") / "wh")
    checkpoint.materialize_kg(spark, transcripts, wh)
    return wh


def _run(run_cli, capsys, argv: list[str]) -> str:
    capsys.readouterr()
    assert run_cli(argv) == 0, argv
    return capsys.readouterr().out


def test_hdt_export_import_query(built_wh, golden_oracle, run_cli, capsys,
                                 tmp_path):
    """export-hdt -> import-hdt -> query answers as the source warehouse
    and the oracle do; the imported warehouse carries every stage."""
    hdt, wh = str(tmp_path / "g.hdt"), str(tmp_path / "wh-hdt")
    _run(run_cli, capsys, ["export-hdt", "--warehouse", built_wh,
                           "--out", hdt])
    stages = json.loads(_run(run_cli, capsys, [
        "import-hdt", "--input", hdt, "--warehouse", wh]))["stages"]
    assert [s["stage"] for s in stages] == list(checkpoint.STAGES[1:])
    assert not any(s["skipped"] for s in stages)
    # the file's md5 keys the stages: importing it again skips every one
    again = json.loads(_run(run_cli, capsys, [
        "import-hdt", "--input", hdt, "--warehouse", wh]))["stages"]
    assert [s["stage"] for s in again] == list(checkpoint.STAGES[1:])
    assert all(s["skipped"] for s in again), again

    def query(warehouse: str) -> list[str]:
        return sorted(_run(run_cli, capsys, [
            "query", "--warehouse", warehouse, "-s", TURN7,
            "-p", rules.P_MENTIONS]).splitlines())

    lines = query(wh)
    assert lines and lines == query(built_wh)
    assert lines == sorted(f"{s} {p} {o} ." for s, p, o in
                           golden_oracle.pattern(TURN7, rules.P_MENTIONS,
                                                 None))


def test_info_and_import_nt_rerun(built_wh, golden_void, run_cli, capsys,
                                  tmp_path):
    """`info` prints the four VOID statistics with the oracle's values on a
    built warehouse and on an import-nt warehouse; rerunning import-nt on
    the same file skips every stage."""
    info = json.loads(_run(run_cli, capsys,
                           ["info", "--warehouse", built_wh]))
    assert {k: info[k] for k in VOID_KEYS} == golden_void
    assert set(checkpoint.STAGES) <= set(info)

    nt, wh = str(tmp_path / "nt"), str(tmp_path / "wh-nt")
    _run(run_cli, capsys, ["export-nt", "--warehouse", built_wh, "--out", nt])
    first = json.loads(_run(run_cli, capsys, [
        "import-nt", "--input", nt, "--warehouse", wh]))["stages"]
    assert [s["stage"] for s in first] == list(checkpoint.STAGES)
    assert not any(s["skipped"] for s in first)
    info = json.loads(_run(run_cli, capsys, ["info", "--warehouse", wh]))
    assert {k: info[k] for k in VOID_KEYS} == golden_void

    again = json.loads(_run(run_cli, capsys, [
        "import-nt", "--input", nt, "--warehouse", wh]))["stages"]
    assert [s["stage"] for s in again] == list(checkpoint.STAGES)
    assert all(s["skipped"] for s in again), again


@pytest.mark.parametrize("argv", [["query", "-s", TURN7], ["info"]])
def test_missing_warehouse_is_left_absent(run_cli, capsys, tmp_path, argv):
    """A read-only command on a missing warehouse exits 2 with an error and
    creates no directory there."""
    wh = tmp_path / "no-such-wh"
    assert run_cli([argv[0], "--warehouse", str(wh), *argv[1:]]) == 2
    assert "error:" in capsys.readouterr().err
    assert not wh.exists()
