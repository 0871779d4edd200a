"""Tests for tools/audit_oracle_claims.py — the r10 checker that makes
the r9 defect class (docstring claims an independent oracle
formulation; registered SQL actually shares the builder's blocking
machinery) mechanically detectable.  The main arm replays the ACTUAL
r9-era spatial_grid_epsilon_join shape and asserts the checker flags
it; the clean arm asserts the live tree passes."""

from __future__ import annotations

import os
import sys
import textwrap
from types import SimpleNamespace

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from audit_oracle_claims import audit  # noqa: E402

R9_ERA_MODULE = textwrap.dedent(
    '''
    _EPS = 0.05

    def _grid_cell(v):
        return f"CAST(floor({v} / {_EPS}) AS BIGINT)"

    @register(
        "spatial_grid_epsilon_join",
        f"""
        WITH cells AS (
          SELECT vec_id, x, y, {_grid_cell('x')} AS cx, {_grid_cell('y')} AS cy
          FROM p)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM cells a JOIN cells b
          ON a.cx = b.cx AND a.vec_id < b.vec_id
        """,
        "knn",
    )
    def spatial_grid_epsilon_join(spark, sf_dir):
        """Pairs within eps via grid blocking.  The oracle is the
        DIRECT quadratic join, so a blocking bug that drops
        boundary-straddling pairs cannot hide."""
        return spark.sql(_grid_cell("x"))
    '''
)

NO_SIGNATURE_MODULE = textwrap.dedent(
    '''
    @register(
        "claims_quadratic_without_one",
        """
        SELECT doc_id, COUNT(*) AS n FROM documents GROUP BY doc_id
        """,
        "misc",
    )
    def claims_quadratic_without_one(spark, sf_dir):
        """Summary table.  Oracle keeps the quadratic NOT EXISTS as
        the independent truth formulation."""
        return None
    '''
)


def _fake_registry(names_oracles):
    return {n: SimpleNamespace(oracle=o, name=n) for n, o in names_oracles}


def _run(tmp_path, module_src, registry):
    d = tmp_path / "ops"
    d.mkdir()
    (d / "mod.py").write_text(module_src)
    return audit(operator_dir=str(d), registry=registry)


def test_checker_flags_the_r9_shared_grid_oracle(tmp_path, capsys):
    """The exact r9 defect: independence claim + oracle f-string
    calling the same _grid_cell helper the builder uses -> flagged."""
    grid_oracle = "SELECT a.vec_id FROM cells a JOIN cells b ON a.vec_id < b.vec_id"
    n = _run(
        tmp_path,
        R9_ERA_MODULE,
        _fake_registry([("spatial_grid_epsilon_join", grid_oracle)]),
    )
    assert n == 1
    out = capsys.readouterr().out
    assert "_grid_cell" in out and "spatial_grid_epsilon_join" in out


def test_checker_flags_quadratic_claim_without_signature(tmp_path, capsys):
    """A 'quadratic NOT EXISTS oracle' claim over an oracle with no
    self-join inequality and no NOT EXISTS -> flagged."""
    n = _run(
        tmp_path,
        NO_SIGNATURE_MODULE,
        _fake_registry(
            [("claims_quadratic_without_one", "SELECT doc_id FROM documents")]
        ),
    )
    assert n == 1
    assert "no self-join inequality" in capsys.readouterr().out


def test_checker_accepts_true_quadratic_oracle(tmp_path):
    """The r10-fixed shape — independence claim, no shared helper in
    the oracle source, SQL with a real self-join inequality — passes."""
    fixed = textwrap.dedent(
        '''
        @register(
            "spatial_ok",
            """
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM p a JOIN p b ON a.vec_id < b.vec_id
            WHERE dist2 < 0.0025
            """,
            "knn",
        )
        def spatial_ok(spark, sf_dir):
            """The oracle is the DIRECT quadratic join, genuinely
            independent of the grid blocking used here."""
            return spark.sql(_grid_cell("x"))
        '''
    )
    oracle = "SELECT a.vec_id FROM p a JOIN p b ON a.vec_id < b.vec_id"
    assert _run(tmp_path, fixed, _fake_registry([("spatial_ok", oracle)])) == 0


def test_live_tree_is_clean():
    """Every independence/quadratic claim in the shipped catalog agrees
    with its registered oracle SQL."""
    assert audit() == 0


def test_hof_hotpath_checker_flags_the_r12_pq_shape():
    """tools/audit_hof_hotpath.py red-green: the r12 PQ distance-table
    shape (3+ nested HOFs in an expr string) must flag; the accepted
    dot-product idiom (aggregate over zip_with, depth 2) and plain
    projections must pass; the live tree is clean modulo the stated
    allow."""
    import os
    import subprocess
    import sys
    import textwrap

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
        ),
    )
    from audit_hof_hotpath import audit_source, flagged, hof_depth

    PQ_SHAPE = textwrap.dedent(
        '''
        def ann_pq(spark, sf_dir):
            dt = (
                "transform(sequence(0, 7), s ->"
                " transform(sequence(0, 15), k ->"
                " aggregate(transform(sequence(0, 7),"
                " j -> qv[s * 8 + j] - cb[s][k][j]),"
                " CAST(0 AS BIGINT), (acc, d) -> acc + d * d)))"
            )
            return base.select(F.expr(dt).alias("dt"))
        '''
    )
    found = audit_source(PQ_SHAPE, "m")
    assert found and found[0][2] >= 3

    DOT_SHAPE = textwrap.dedent(
        '''
        def dot(spark, sf_dir):
            return df.select(F.expr(
                "aggregate(zip_with(a, b, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d"))
        '''
    )
    assert audit_source(DOT_SHAPE, "m") == []
    assert hof_depth("transform(a, x -> x + 1)") == 1

    # The allowlist is keyed on function + expression text, not on the
    # line: a line inserted above the allow-listed site still passes,
    # and a different 3-deep expression in the same function flags.
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    mod = "kbrowse_spark/operators/analytics.py"
    with open(os.path.join(root, mod)) as f:
        src = f.read()
    shifted = src.replace(
        "def seq_pattern_triples", "# an unrelated line\ndef seq_pattern_triples", 1
    )
    assert audit_source(shifted, mod) and flagged(audit_source(shifted, mod)) == []
    body = shifted.index(
        '    e = load(spark, sf_dir, "events")',
        shifted.index("def seq_pattern_triples"),
    )
    other = (
        shifted[:body]
        + '    F.expr("transform(a, x -> transform(x, y -> transform(y, z -> z)))")\n'
        + shifted[body:]
    )
    found = flagged(audit_source(other, mod))
    assert len(found) == 1 and " :: seq_pattern_triples :: " in found[0][3]

    tool = os.path.join(root, "tools", "audit_hof_hotpath.py")
    res = subprocess.run(
        [sys.executable, tool], capture_output=True, text=True
    )
    assert res.returncode == 0, res.stdout + res.stderr
