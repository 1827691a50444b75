"""Suggest the next round's ``registry.PRIORITY`` window.

Policy (judge-endorsed in round 3, executed in round 4): the driver
attests exactly the FIRST 50 entries of ``queries()`` per round, so
the window is the verification budget. Spend it on the least-recently
attested evidence:

1. names passed on the command line (new / behavior-changed this
   round — these MUST be attested now), in the given order;
2. every other oracled query, oldest last-green round first (never
   attested sorts oldest), registration order within a round;
3. drop no-oracle rows from the window entirely (their evidence is
   pytest; a window slot spent on a guaranteed ``no_oracle`` row is
   wasted).

Prints the 50-name window as a Python tuple body ready to paste into
``registry.PRIORITY``, then the deferred remainder with ages so the
round-after can be planned.

Usage: python tools/rotate_priority.py [new_query ...]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

WINDOW = 50


def main() -> None:
    forced = sys.argv[1:]
    from bigdata_pipelines_aws_glue_spark import registry

    q = registry.queries()
    o = registry.oracle_sql()
    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(f"{REPO}/CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)", path).group(1))
        for name, row in json.load(open(path)).items():
            if row.get("hash_match"):
                last_green[name] = max(last_green.get(name, 0), rnd)

    unknown = [n for n in forced if n not in q]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")
    no_oracle_forced = [n for n in forced if n not in o]
    if no_oracle_forced:
        raise SystemExit(
            f"no-oracle rows can't be attested, drop them: {no_oracle_forced}"
        )

    rest = [n for n in q if n in o and n not in forced]
    rest.sort(key=lambda n: last_green.get(n, 0))  # stable: reg order kept
    window = (forced + rest)[:WINDOW]
    deferred = (forced + rest)[WINDOW:]

    print(f"# window ({len(window)}; forced {len(forced)}):")
    for n in window:
        age = last_green.get(n)
        tag = "new/changed" if n in forced else (f"r{age}" if age else "never")
        print(f'    "{n}",  # {tag}')
    print(f"\n# deferred ({len(deferred)} oracled, oldest first):")
    for n in deferred[:30]:
        print(f"#   {n} (last green r{last_green.get(n, 0) or '-'})")
    if len(deferred) > 30:
        print(f"#   ... and {len(deferred) - 30} more")
    skipped = [n for n in q if n not in o]
    print(f"# rows-only (excluded from window): {skipped}")


if __name__ == "__main__":
    main()
