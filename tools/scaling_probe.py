"""Time catalog queries over one data step and record them in
docs/SCALING_MEASUREMENTS.md.

Usage: python tools/scaling_probe.py SMALL_DIR BIG_DIR [name ...]

Each query runs on SMALL_DIR and on BIG_DIR through ``bench.time_query``
(an adjacent warm run, then the min of ``SPARK_GRAFT_BENCH_RUNS``
noop-sink runs and their max/min spread), with shuffle partitions sized
for the directory being read (``tune_for_input``).  The results go to
the doc section ``## <basename(BIG_DIR)> step``, one row per query:

    | `op` | t_small | t_big | ratio x | spread x |

The doc is the query list: with no names, the queries are the rows
already in that section; names add or refresh rows.  Rows not measured,
the section's prose and its ``- `op`: note`` bullets are kept, and every
other section stays byte-identical.  The section's ``Measured:`` line
records the small directory, the cores and the runs per point.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC = os.path.join(REPO, "docs", "SCALING_MEASUREMENTS.md")

_ROW = re.compile(r"\| `([a-z0-9_]+)` \|")
_TIMES = re.compile(
    r"\| `([a-z0-9_]+)` \| ([0-9.]+) \| ([0-9.]+) \| ([0-9.]+)x \|"
)


def _section(doc: str, big: str) -> re.Match | None:
    return re.search(
        rf"^## {re.escape(big)} step$.*?(?=\n## |\Z)", doc, flags=re.S | re.M
    )


def section_times(doc: str, big: str) -> dict[str, tuple[float, float, float]]:
    """{op: (t_small, t_big, ratio)} from the ``## <big> step`` table."""
    sec = _section(doc, big)
    return {
        m.group(1): (float(m.group(2)), float(m.group(3)), float(m.group(4)))
        for m in _TIMES.finditer(sec.group(0) if sec else "")
    }


def _table_header(small: str, big: str) -> list[str]:
    step = f"x{small.removeprefix('sf')}->{big.removeprefix('sf')}"
    return [
        f"| operator | {small} s | {big} s | {step} | spread |",
        "|---|---|---|---|---|",
    ]


def _parts(doc: str, small: str, big: str):
    """The ``## <big> step`` section as (match or None, lines before the
    table, {op: row line} in table order, lines after the table).
    Raises ValueError when the section's table was measured from a
    different small directory."""
    sec = _section(doc, big)
    if sec is None:
        return None, [f"## {big} step", ""], {}, [""]
    lines = sec.group(0).split("\n")
    start = next(
        (i for i, s in enumerate(lines) if s.startswith("| operator |")),
        len(lines),
    )
    end = start
    while end < len(lines) and lines[end].startswith("|"):
        end += 1
    header = _table_header(small, big)[0]
    if start < len(lines) and lines[start] != header:
        raise ValueError(
            f"## {big} step has table {lines[start]!r}, not {header!r}"
        )
    rows = {
        m.group(1): s for s in lines[start:end] if (m := _ROW.match(s))
    }
    return sec, lines[:start], rows, lines[end:] or [""]


def section_ops(doc: str, small: str, big: str) -> list[str]:
    """The queries already recorded in ``## <big> step``, in row order."""
    return list(_parts(doc, small, big)[2])


def write_section(
    doc: str,
    small: str,
    big: str,
    where: str,
    measured: dict[str, tuple[float, float, float]],
) -> str:
    """Return ``doc`` with ``measured`` {op: (t_small, t_big, spread)}
    written into ``## <big> step``: measured rows replaced in place or
    appended, other rows, prose and note bullets kept, the section's
    ``Measured:`` line set to ``where``.  A missing section is appended;
    the rest of the doc is unchanged."""
    sec, head, rows, tail = _parts(doc, small, big)
    for op, (t_small, t_big, spread) in measured.items():
        ratio = round(t_big / max(t_small, 1e-9), 1)
        rows[op] = (
            f"| `{op}` | {round(t_small, 2)} | {round(t_big, 2)} |"
            f" {ratio}x | {round(spread, 1)}x |"
        )
    at = next((i for i, s in enumerate(head) if s.startswith("Measured:")), None)
    if at is None:
        head = head + [where, ""]
    else:
        head = head[:at] + [where] + head[at + 1 :]
    text = "\n".join(head + _table_header(small, big) + list(rows.values()) + tail)
    if sec is None:
        return doc.rstrip("\n") + "\n\n" + text
    return doc[: sec.start()] + text + doc[sec.end() :]


def main(argv: list[str]) -> int:
    if len(argv) < 2 or any(a.startswith("-") for a in argv):
        print(__doc__.split("\n\n")[1], file=sys.stderr)
        return 2
    small_dir, big_dir, *names = argv
    small, big = (os.path.basename(os.path.normpath(d)) for d in argv[:2])
    for d in (small_dir, big_dir):
        if not os.path.isdir(d):
            print(f"missing {d} (tools/make_bigsf.py writes sf1/sf10)",
                  file=sys.stderr)
            return 2
    with open(DOC) as f:
        ops = names or section_ops(f.read(), small, big)
    if not ops:
        print(f"no rows in ## {big} step and no names given", file=sys.stderr)
        return 2

    from bench import bench_runs, time_query
    from kbrowse_spark.catalog import all_queries
    from kbrowse_spark.functions.cache_registry import invalidate
    from kbrowse_spark.session import get_spark, tune_for_input

    qs = all_queries()
    unknown = [op for op in ops if op not in qs]
    if unknown:
        print(f"unknown queries: {', '.join(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark("scaling_probe")
    runs = bench_runs()
    measured: dict[str, tuple[float, float, float]] = {}
    for op in ops:
        tune_for_input(spark, small_dir)
        t_small, spread_small = time_query(spark, qs[op].builder, small_dir, runs)
        tune_for_input(spark, big_dir)
        t_big, spread_big = time_query(spark, qs[op].builder, big_dir, runs)
        measured[op] = (t_small, t_big, max(spread_small, spread_big))
        print(f"{op}: {small} {t_small:.2f}s  {big} {t_big:.2f}s"
              f"  ratio {t_big / max(t_small, 1e-9):.1f}x", flush=True)
    invalidate()

    where = (
        f"Measured: small dir `{small_dir}`,"
        f" {spark.sparkContext.defaultParallelism} cores"
        f" (`defaultParallelism`), min of {runs} runs per point."
    )
    with open(DOC) as f:
        doc = f.read()
    with open(DOC, "w") as f:
        f.write(write_section(doc, small, big, where, measured))
    print(f"wrote {len(measured)} rows to ## {big} step in {DOC}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, REPO)
    raise SystemExit(main(sys.argv[1:]))
