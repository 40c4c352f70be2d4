"""Regenerate VERIFIED.md — the per-query verification ledger.

For every entry in ``__spark_entry__.queries()``, reports:
- which CORRECTNESS_r*.json rounds the grading driver checked it in, and
  the most recent round it was GREEN (rows+schema+hash) on;
- whether it is oracle-backed or rows-only;
- the local-mirror status, if a ``MIRROR_LOCAL.json`` snapshot exists
  (written by ``tools/driver_mirror.py --json``).

Testdata regenerates every round, so a stale driver row is a real risk
(round 3's events.ts unit change proved drift happens); this file makes
staleness visible at a glance.

Also emits ``VERIFIED.json`` — the same facts machine-readably, one
record per query: verification tier (oracle / rows-only), the round the
query was FIRST driver-green (its promotion round), the latest green
round, every round checked, and the mirror status — so consumers don't
have to reconstruct promotion history from N CORRECTNESS files.

Usage:
    python tools/verified_ledger.py          # rewrites VERIFIED.md + VERIFIED.json
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _checked(rec: dict) -> bool:
    """A presentation counts as checked only if it did not ERROR.

    An err-bearing row (driver-side crash, canonicalizer failure, query
    exception) verified nothing — treating it as 'checked' is exactly
    the roster crack that left video_pipeline unverified from r5 to r10.
    'no_oracle' is the driver's rows-only marker, not an error.
    """
    err = rec.get("err")
    return err is None or err == "no_oracle"


def main() -> int:
    import __spark_entry__ as entrymod
    from __spark_entry__ import _driver_green

    names = list(entrymod.queries())
    oracles = set(entrymod.oracle_sql())

    rounds: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if m:
            try:
                rounds[int(m.group(1))] = json.load(open(path))
            except Exception:
                pass

    # A stale snapshot is worse than none — regenerate MIRROR_LOCAL.json
    # each round via `python tools/driver_mirror.py --json`.
    mirror: dict = {}
    mirror_path = os.path.join(REPO, "MIRROR_LOCAL.json")
    if os.path.exists(mirror_path):
        try:
            mirror = json.load(open(mirror_path))
        except Exception:
            mirror = {}

    lines = [
        "# VERIFIED — per-query verification ledger",
        "",
        "Regenerated by `python tools/verified_ledger.py`. `last green` is the",
        "most recent CORRECTNESS_r*.json round where the grading driver",
        "recorded rows+schema+hash all matching (rows-only queries: rows",
        "non-error). `mirror` is the local driver-mirror result on CURRENT",
        "testdata, if a MIRROR_LOCAL.json snapshot exists.",
        "",
        "| query | tier | driver rounds checked | first green | last green | mirror |",
        "|---|---|---|---|---|---|",
    ]
    n_stale = 0
    latest_round = max(rounds) if rounds else 0
    ledger: dict[str, dict] = {}
    for name in names:
        presented = sorted(r for r, data in rounds.items() if name in data)
        checked = [r for r in presented if _checked(rounds[r][name])]
        greens = [r for r in checked if _driver_green(rounds[r][name])]
        first_green = f"r{min(greens)}" if greens else "—"
        last_green = f"r{max(greens)}" if greens else "—"
        if name in oracles and greens and max(greens) < latest_round:
            n_stale += 1
        mstat = mirror.get(name)
        mcell = (
            "—"
            if mstat is None
            else ("green" if _driver_green(mstat) else f"FAIL: {mstat.get('err') or 'hash'}")
        )
        tier = "oracle" if name in oracles else "rows-only"
        lines.append(
            f"| {name} | {tier} | "
            f"{', '.join(f'r{r}' for r in checked) or '—'} | {first_green} | "
            f"{last_green} | {mcell} |"
        )
        ledger[name] = {
            "tier": tier,
            "rounds_checked": checked,
            "first_green_round": min(greens) if greens else None,
            "last_green_round": max(greens) if greens else None,
            "mirror": mcell if mstat is not None else None,
        }
    lines += [
        "",
        f"Totals: {len(names)} queries ({len(oracles & set(names))} oracle-backed); "
        f"{n_stale} oracle-backed queries whose latest driver green predates "
        f"round {latest_round} (queries() orders entries stalest-first for the "
        "driver's 50-entry window).",
        "",
    ]
    out = os.path.join(REPO, "VERIFIED.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines))
    with open(os.path.join(REPO, "VERIFIED.json"), "w") as fh:
        json.dump(
            {"latest_round": latest_round, "queries": ledger},
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")
    print(f"wrote {out}: {len(names)} queries, {n_stale} stale vs r{latest_round}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
