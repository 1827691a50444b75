"""Per-query bench trend across rounds — host drift vs code drift at
one glance (round-6 verdict stretch item: six rounds of the same 13
headline queries were only comparable via NOTES archaeology).

Reads every ``BENCH_r*.json`` the driver recorded, plus optional local
readings appended to ``BENCH_LOCAL.jsonl`` (one bench.py JSON line per
run, written by ``python bench.py | tee -a BENCH_LOCAL.jsonl`` — these
carry idle-host A/B evidence between driver rounds), and regenerates
``BENCH_TREND.md``: one row per query, one column per round, with the
start-of-run 1-min loadavg in the header so a loaded-host column
explains itself.

Usage: python tools/bench_trend.py [--write]
  (default prints the table; --write also rewrites BENCH_TREND.md)
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _readings() -> list[tuple[str, dict]]:
    out: list[tuple[str, dict]] = []
    for path in sorted(glob.glob(f"{REPO}/BENCH_r*.json")):
        rnd = re.search(r"_r(\d+)", path).group(1)
        parsed = json.load(open(path)).get("parsed")
        if parsed:
            out.append((f"r{int(rnd)}", parsed))
    try:
        for i, line in enumerate(open(f"{REPO}/BENCH_LOCAL.jsonl")):
            line = line.strip()
            if line:
                parsed = json.loads(line)
                # Bisect runs of the r5 checkout (295bb54) benchmark old
                # code, not HEAD lineage — star the column label so a
                # reader never misattributes them (ADVICE_r8).
                star = "*" if "r5 checkout" in parsed.get("note", "") else ""
                out.append((f"L{i + 1}{star}", parsed))
    except FileNotFoundError:
        pass
    return out


def render() -> str:
    readings = _readings()
    if not readings:
        return "(no BENCH_r*.json readings found)\n"
    queries: list[str] = []
    for _, p in readings:
        for q in p.get("queries", {}):
            if q not in queries:
                queries.append(q)
    head = ["query"] + [label for label, _ in readings]
    loads = ["loadavg_1"]
    canaries = ["canary_sec (host CPU, fixed work)"]
    canaries32 = ["canary32_sec (host CPU, fixed work x32 threads)"]
    sfs = ["sf"]
    totals = ["TOTAL wall (s, original 13)"]
    ext_totals = ["EXT total (s, post-r5 families)"]
    for _, p in readings:
        la = p.get("loadavg_1_5_15")
        loads.append(f"{la[0]:.2f}" if la else "—")
        c = p.get("canary_sec")
        canaries.append(f"{c:.3f}" if c is not None else "—")
        c32 = p.get("canary32_sec")
        canaries32.append(f"{c32:.3f}" if c32 is not None else "—")
        sf = p.get("sf")
        sfs.append(f"{sf:g}" if sf is not None else "—")
        totals.append(f"{p.get('value', float('nan')):.3f}")
        ext = p.get("extended_total_sec")
        ext_totals.append(f"{ext:.3f}" if ext is not None else "—")
    lines = [
        "# Bench trend (local[32]) — seconds per headline query",
        "",
        "Most columns are sf0.1 (the driver's scale); the sf row marks",
        "the sf0.01 scale-point readings (VERDICT_r8 item 6) that show",
        "per-query scaling next to sf0.1.",
        "",
        "Regenerated by `python tools/bench_trend.py --write`. Columns",
        "rN are driver rounds (BENCH_rN.json); LN are local readings",
        "appended to BENCH_LOCAL.jsonl. The loadavg row is the",
        "start-of-run 1-min load — the shared bench host drifts",
        "±15-30% when loaded, so compare like-loaded columns before",
        "attributing a delta to code. The canary row (added r13) is a",
        "fixed single-threaded CPU microbenchmark (bench.py",
        "`_host_canary`) run before Spark starts: same code every",
        "round, so a canary that moves with the totals on unchanged",
        "query code is HOST drift, and same-code columns normalize as",
        "value \\* (canary_ref / canary). The canary32 row (added",
        "r15) is the same fixed work run on 32 threads",
        "simultaneously (bench.py `_host_canary_mt`): the",
        "single-thread canary bounds single-CORE state only — r14's",
        "afternoon EXT drift happened at flat single-thread canary —",
        "so multi-core host state is measured by this row. Starred",
        "columns (LN\\*) are",
        "interleaved-bisect runs of the r5 checkout (295bb54), NOT",
        "HEAD-lineage code — they exist to separate host drift from",
        "code drift and must not be read as current-code readings.",
        "",
        "| " + " | ".join(head) + " |",
        "|" + "---|" * len(head),
        "| " + " | ".join(loads) + " |",
        "| " + " | ".join(canaries) + " |",
        "| " + " | ".join(canaries32) + " |",
        "| " + " | ".join(sfs) + " |",
        "| " + " | ".join(totals) + " |",
        "| " + " | ".join(ext_totals) + " |",
    ]
    for q in queries:
        row = [q]
        for _, p in readings:
            v = p.get("queries", {}).get(q)
            row.append(f"{v:.3f}" if v is not None else "—")
        lines.append("| " + " | ".join(row) + " |")
    return "\n".join(lines) + "\n"


def main() -> int:
    table = render()
    print(table, end="")
    if "--write" in sys.argv:
        with open(f"{REPO}/BENCH_TREND.md", "w") as f:
            f.write(table)
        print("\nwrote BENCH_TREND.md", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
