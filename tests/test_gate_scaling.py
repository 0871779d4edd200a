"""Red-green fixture for the standing sf1 scaling gate
(tools/gate_scaling_sf1.py, VERDICT r12 directive #2): the pure
``evaluate`` logic must flag super-linear steps and absolute
regressions, honor per-op allow caps, and ignore sub-second noise —
proven on synthetic measurements so the gate's verdict logic is tested
without a 5-minute Spark run."""

from __future__ import annotations

from tools.gate_scaling_sf1 import ALLOW, evaluate, parse_recorded

REC = {
    "op_linear": (2.0, 4.0, 2.0),
    "op_hot": (1.0, 2.0, 2.0),
    "semdedup_prune": (4.0, 13.5, 3.4),
}


def test_clean_measurements_pass():
    measured = {"op_linear": (2.1, 4.2), "op_hot": (1.0, 1.9)}
    assert evaluate(measured, REC) == []


def test_superlinear_ratio_flags():
    # 40x ratio — the r12 PQ-encode defect class.
    flags = evaluate({"op_hot": (1.0, 40.0)}, REC)
    kinds = {f["kind"] for f in flags}
    assert "superlinear" in kinds
    assert any(f["op"] == "op_hot" for f in flags)


def test_allowlisted_op_within_cap_passes_and_over_cap_flags():
    # semdedup's documented 3.4x sits under its 4.5x cap...
    assert (
        evaluate({"semdedup_prune": (4.0, 14.0)}, REC, allow=ALLOW) == []
    )
    # ...but blowing past the cap still flags (both arms fire: the
    # ratio cap and the recorded-row regression).
    flags = evaluate({"semdedup_prune": (4.0, 30.0)}, REC, allow=ALLOW)
    assert {f["kind"] for f in flags} == {"superlinear", "regression"}


def test_absolute_regression_vs_recorded_row_flags():
    # Clean 2x ratio but 3x the recorded sf1 time.
    flags = evaluate({"op_linear": (6.0, 12.0)}, REC)
    assert [f["kind"] for f in flags] == ["regression"]


def test_subsecond_noise_never_ratio_flags():
    # 5x ratio on a 0.5 s op is timer noise, not a scale defect.
    assert evaluate({"op_tiny": (0.1, 0.5)}, {}) == []


def test_parse_recorded_reads_doc_table():
    doc = """
# Scaling

## sf1 step

blah.

| operator | sf0.1 s | sf1 s | x0.1->1 | spread |
|---|---|---|---|---|
| `q1_pricing_summary` | 2.29 | 3.97 | 1.7x | 1.3x |
| `semdedup_prune` | 4.01 | 13.46 | 3.4x | 1.5x |

## sf10 step
| `other` | 1.0 | 2.0 | 2.0x | 1.1x |
"""
    rec = parse_recorded(doc)
    assert rec == {
        "q1_pricing_summary": (2.29, 3.97, 1.7),
        "semdedup_prune": (4.01, 13.46, 3.4),
    }


def test_live_doc_parses_nonempty():
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "SCALING_MEASUREMENTS.md",
    )
    rec = parse_recorded(open(path).read())
    assert len(rec) >= 50  # the standing table the gate selects from
    assert all(v[0] > 0 and v[1] > 0 for v in rec.values())


def test_gate_refuses_empty_record(tmp_path, monkeypatch, capsys):
    """With sf1 data present but no recorded rows, the gate would select
    nothing and report CLEAN; it must fail instead, before starting
    Spark and without overwriting its last-run artifact."""
    import sys

    from tools import gate_scaling_sf1 as gate

    sf1 = tmp_path / "sf1"
    sf1.mkdir()
    doc = tmp_path / "SCALING_MEASUREMENTS.md"
    doc.write_text("# Scaling\n\n## sf10 step\n\n| `op` | 1.0 | 2.0 | 2.0x | 1.1x |\n")
    monkeypatch.setattr(gate, "SF1", str(sf1))
    monkeypatch.setattr(gate, "DOC", str(doc))
    monkeypatch.setattr(gate, "REPO", str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["gate_scaling_sf1.py"])
    assert gate.main() == 1
    assert "sf1 step" in capsys.readouterr().out
    assert not (tmp_path / "gate_scaling_sf1_last.json").exists()
