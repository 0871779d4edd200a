"""Audit: interpreted higher-order-function chains in per-row paths.

The defect class (found by the sf1 scaling probe in round 12's PQ
family, ROUND12.md §2e): Spark evaluates SQL higher-order functions
(transform / aggregate / zip_with / filter / reduce ...) OUTSIDE
whole-stage codegen — every invocation is interpreted, with an array
allocation per lambda application.  A shallow HOF over a small array
(the `aggregate(zip_with(a, b, *), 0, +)` dot-product idiom, ~64
elements) costs microseconds and is fine; a NESTED chain that builds
per-row structure (the PQ distance table: transform(transform(
aggregate(transform(...)))) over 8x16x8 cells) costs ~20 ms/row and
silently turns a "codegen-folded narrow projection" claim into an
interpreted hot loop.  Unrolling does not rescue it (the ~10k-node
tree blows codegen size limits and stays interpreted, plus seconds of
planning); the honest fix is an Arrow-batched numpy kernel.

Mechanics (pure AST + string scan, no Spark session): for every
module under kbrowse_spark/, walk the AST and collect STRING
CONSTANTS that flow into SQL-expression call sites (F.expr,
selectExpr, expr; f-strings contribute their literal fragments), then
compute each string's maximum HOF NESTING DEPTH with a
paren-matching scan that counts only HOF-call frames.  Depth >= 3 is
FLAGGED: three stacked interpreted loops per row is the r12 PQ shape.
Depth <= 2 (one HOF over one combining HOF — the dot-product idiom)
is the accepted budget; its per-row cost is bounded by the array
length, which in this codebase is <= 64.

Allow-listed findings carry a stated bound, same contract as
audit_plan_smells.ALLOW.  Exit 1 on any un-allowlisted flag.
"""

from __future__ import annotations

import ast
import glob
import os
import re
import sys

HOF = re.compile(
    r"\b(transform|aggregate|zip_with|reduce|filter|exists|forall)\s*\("
)

# Call sites whose string arguments are SQL expressions evaluated
# per row.
_EXPR_FUNCS = {"expr", "selectExpr"}

# Keys are line-stable: "<module> :: <enclosing function> :: <expression
# text, whitespace-normalized>" (see site_key), the way
# div_semantics_baseline.json keys its reviewed sites.
ALLOW: dict[str, str] = {
    # Bounded by construction: the triple enumeration runs over a
    # <= _SEQ_WIN(=10)-element per-user window, so the 3-deep nest is
    # C(10,3) <= 120 inner ops per user row (docstring states the
    # bound; benched at ~0.5 s in the headline set).
    "kbrowse_spark/operators/analytics.py :: seq_pattern_triples :: "
    "flatten(flatten(transform(s, (a, i) -> transform(slice(s, i + 2,"
    " size(s)), (b, j) -> transform(slice(s, i + j + 3, size(s)), c ->"
    " concat(a, '>', b, '>', c))))))": (
        "3-deep transform over a <=10-element window: C(10,3) <= 120"
        " ops/row (seq_pattern_triples, bound stated in docstring)"
    ),
}


def site_key(module: str, func: str, text: str) -> str:
    """Allowlist key of an expression site: no line number, so edits
    elsewhere in the module do not move it."""
    return f"{module} :: {func} :: {' '.join(text.split())}"


def hof_depth(text: str) -> int:
    """Maximum number of enclosing HOF-call frames at any point."""
    depth = maxd = 0
    stack: list[bool] = []  # True = HOF frame, False = plain paren
    i = 0
    while i < len(text):
        m = HOF.match(text, i)
        if m:
            stack.append(True)
            depth += 1
            maxd = max(maxd, depth)
            i = m.end()
            continue
        c = text[i]
        if c == "(":
            stack.append(False)
        elif c == ")" and stack:
            if stack.pop():
                depth -= 1
        i += 1
    return maxd


def _string_parts(node: ast.AST) -> str:
    """Literal text of a string constant / f-string (formatted holes
    contribute a placeholder that cannot close or open parens)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        out = []
        for v in node.values:
            if isinstance(v, ast.Constant) and isinstance(v.value, str):
                out.append(v.value)
            else:
                out.append(" _ ")
        return "".join(out)
    return ""


def _expr_strings(tree: ast.AST, func: str = "<module>"):
    """(lineno, enclosing function, text) for every string flowing into
    an expr call site, plus every assignment or return whose value is a
    string that CONTAINS a HOF (those constants are routinely
    interpolated into expr strings elsewhere)."""
    for node in ast.iter_child_nodes(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _expr_strings(node, node.name)
            continue
        if isinstance(node, ast.Call):
            fname = None
            if isinstance(node.func, ast.Attribute):
                fname = node.func.attr
            elif isinstance(node.func, ast.Name):
                fname = node.func.id
            if fname in _EXPR_FUNCS:
                for arg in node.args:
                    s = _string_parts(arg)
                    if s:
                        yield node.lineno, func, s
        elif isinstance(node, ast.Assign):
            s = _string_parts(node.value)
            if s and HOF.search(s):
                yield node.lineno, func, s
        elif isinstance(node, ast.Return):
            s = _string_parts(node.value) if node.value else ""
            if s and HOF.search(s):
                yield node.lineno, func, s
        yield from _expr_strings(node, func)


def audit_source(src: str, modname: str) -> list[tuple[str, int, int, str]]:
    """[(module, lineno, depth, site key)] findings with depth >= 3."""
    out = []
    for lineno, func, text in _expr_strings(ast.parse(src)):
        d = hof_depth(text)
        if d >= 3:
            out.append((modname, lineno, d, site_key(modname, func, text)))
    return out


def flagged(findings: list[tuple[str, int, int, str]]) -> list:
    """The findings whose site is not allow-listed."""
    return [f for f in findings if f[3] not in ALLOW]


def main() -> int:
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
    findings: list[tuple[str, int, int, str]] = []
    n_files = 0
    for path in sorted(
        glob.glob(os.path.join(root, "kbrowse_spark", "**", "*.py"),
                  recursive=True)
    ):
        n_files += 1
        mod = os.path.relpath(path, root)
        with open(path) as f:
            findings += audit_source(f.read(), mod)
    bad = flagged(findings)
    for mod, lineno, depth, key in findings:
        if key in ALLOW:
            print(f"ALLOWED {mod}:{lineno} HOF depth {depth}: {ALLOW[key]}")
        else:
            print(
                f"FLAG {mod}:{lineno}: SQL expression nests {depth} higher-order"
                f" functions — Spark evaluates HOFs interpreted (no"
                f" codegen), so a >=3-deep chain is a per-row"
                f" interpreted loop nest (the r12 PQ distance-table"
                f" defect, ~20 ms/row).  Move the math to an"
                f" Arrow-batched numpy kernel (see knn._pq_codes_udf)."
            )
    print(f"(files audited: {n_files}, expressions flagged: {len(findings)})")
    print("CLEAN (modulo allowed)" if not bad else f"{len(bad)} FLAGGED")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
