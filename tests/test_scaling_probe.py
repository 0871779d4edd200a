"""The scaling doc's section writer (tools/scaling_probe.py): pure text
in, text out, so the rules that keep the sf1 gate's recorded rows safe
are checked without Spark."""

from __future__ import annotations

import pytest

from tools import scaling_probe as probe
from tools.gate_scaling_sf1 import parse_recorded

DOC = """# Scaling measurements

Intro prose.

## sf0.1 step

Step prose.

Measured: small dir `old/sf0.01`, 32 cores (`defaultParallelism`), min of 3 runs per point.

| operator | sf0.01 s | sf0.1 s | x0.01->0.1 | spread |
|---|---|---|---|---|
| `q1` | 0.38 | 1.22 | 3.2x | 1.4x |
| `q5` | 0.56 | 1.03 | 1.8x | 1.3x |

## sf1 step

sf1 prose.

| operator | sf0.1 s | sf1 s | x0.1->1 | spread |
|---|---|---|---|---|
| `semdedup` | 0.79 | 1.01 | 1.3x | 1.3x |
| `dsir` | 2.25 | 5.46 | 2.4x | 1.6x |
| `q1` | 2.29 | 3.97 | 1.7x | 1.3x |

- `semdedup`: capped cells
- `dsir`: hashed n-grams

## sf10 step

| operator | sf1 s | sf10 s | x1->10 | spread |
|---|---|---|---|---|
| `semdedup` | 8.13 | 31.75 | 3.9x | 1.5x |

- `semdedup`: capped cells
"""

WHERE = "Measured: small dir `d/sf0.1`, 4 cores (`defaultParallelism`), min of 3 runs per point."


def _sections(doc: str) -> dict[str, str]:
    parts = doc.split("\n## ")
    return {p.split("\n", 1)[0]: p for p in parts}


def test_write_leaves_every_other_section_byte_identical():
    out = probe.write_section(DOC, "sf0.1", "sf1", WHERE, {"dsir": (2.0, 4.0, 1.2)})
    before, after = _sections(DOC), _sections(out)
    assert before.keys() == after.keys()
    for name in before:
        if name != "sf1 step":
            assert after[name] == before[name], name
    assert after["sf1 step"] != before["sf1 step"]


def test_partial_run_keeps_unmeasured_rows_and_notes():
    out = probe.write_section(DOC, "sf0.1", "sf1", WHERE, {"dsir": (2.0, 4.0, 1.25)})
    sec = _sections(out)["sf1 step"]
    assert "| `semdedup` | 0.79 | 1.01 | 1.3x | 1.3x |" in sec
    assert "| `q1` | 2.29 | 3.97 | 1.7x | 1.3x |" in sec
    assert "| `dsir` | 2.0 | 4.0 | 2.0x | 1.2x |" in sec
    assert "- `semdedup`: capped cells" in sec
    assert "- `dsir`: hashed n-grams" in sec
    assert "sf1 prose." in sec
    # rows keep their order; the Measured line goes above the table
    assert sec.index("`semdedup` |") < sec.index("`dsir` |") < sec.index("`q1` |")
    assert sec.index(WHERE) < sec.index("| operator |")
    # writing the same row again changes nothing else
    assert probe.write_section(out, "sf0.1", "sf1", WHERE, {"dsir": (2.0, 4.0, 1.25)}) == out


def test_new_rows_append_and_measured_line_is_replaced():
    out = probe.write_section(DOC, "sf0.01", "sf0.1", WHERE, {"q9": (0.5, 0.8, 1.1)})
    sec = _sections(out)["sf0.1 step"]
    assert sec.count("Measured:") == 1 and WHERE in sec
    assert sec.rstrip().endswith("| `q9` | 0.5 | 0.8 | 1.6x | 1.1x |")


def test_no_names_means_the_sections_existing_rows():
    assert probe.section_ops(DOC, "sf0.1", "sf1") == ["semdedup", "dsir", "q1"]
    assert probe.section_ops(DOC, "sf1", "sf10") == ["semdedup"]
    assert probe.section_ops(DOC, "sf1", "sf100") == []


def test_rows_written_for_sf1_read_back_through_the_gate():
    measured = {"dsir": (2.004, 4.5, 1.04), "new_op": (0.333, 1.0, 2.0)}
    out = probe.write_section(DOC, "sf0.1", "sf1", WHERE, measured)
    rec = parse_recorded(out)
    assert rec["dsir"] == (2.0, 4.5, 2.2)
    assert rec["new_op"] == (0.33, 1.0, 3.0)
    assert rec["semdedup"] == parse_recorded(DOC)["semdedup"]
    assert len(rec) == 4


def test_missing_section_is_appended():
    out = probe.write_section(DOC, "sf10", "sf100", WHERE, {"q1": (1.0, 5.0, 1.0)})
    assert out.startswith(DOC.rstrip("\n") + "\n\n## sf100 step\n")
    assert probe.section_times(out, "sf100") == {"q1": (1.0, 5.0, 5.0)}
    assert probe.section_ops(out, "sf10", "sf100") == ["q1"]


def test_other_small_dir_is_refused():
    with pytest.raises(ValueError, match="sf1 step"):
        probe.write_section(DOC, "sf0.01", "sf1", WHERE, {"q1": (1.0, 2.0, 1.0)})


def test_probe_without_names_or_rows_exits_before_spark(tmp_path, monkeypatch, capsys):
    doc = tmp_path / "doc.md"
    doc.write_text(DOC)
    monkeypatch.setattr(probe, "DOC", str(doc))
    (tmp_path / "sf0.1").mkdir()
    (tmp_path / "sf100").mkdir()
    assert probe.main([str(tmp_path / "sf0.1"), str(tmp_path / "sf100")]) == 2
    assert "no rows in ## sf100 step" in capsys.readouterr().err
    assert doc.read_text() == DOC
