"""Build ``driver_evidence.json`` from the per-round CORRECTNESS files.

The external driver checks exactly the first 50 names of the registry's
iteration order each round (confirmed r1–r6), so with 222+ registered
queries the window must ROTATE or evidence goes stale. Through r6 the
rotation was hand-curated (a ~170-line comment block in registry.py);
per the r6 verdict this tool replaces it with data: scan every
``CORRECTNESS_r*.json``, record each query's latest driver row (round +
green/red/no_oracle status), and persist the summary. The registry then
computes the window order deterministically (see
``kinesumer_spark/registry.py:front_order``): red rows first, then
never-checked, then oldest-evidence-first.

Run after each round's CORRECTNESS file lands:

    python tools/update_evidence.py

and commit the round's ``CORRECTNESS_rNN.json`` together with the
regenerated ``driver_evidence.json``. Without the fold the ledger still
shows the just-checked names at their older rounds, so the 50-name
window repeats the round just checked and the oldest-proven tail goes
unchecked.

``tests/test_oracle_queries.py::test_driver_evidence_current`` fails if
the committed artifact is stale, so forgetting to regenerate is caught
by the gate, not by the judge.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "driver_evidence.json")


def _row_status(row: dict) -> str:
    """green | no_oracle | red for one driver row."""
    if row.get("err") == "no_oracle":
        # rows-only check: the driver could execute the query but had no
        # oracle to compare against at the time (weaker evidence, and in
        # r3's case recorded as an err). Treated as needing re-proof once
        # an oracle exists, but distinct from an execution failure.
        return "no_oracle"
    if row.get("err") is None and row.get("hash_match") is True:
        return "green"
    if row.get("err") is None and row.get("hash_match") is None and (
        row.get("spark_rows") or 0
    ) >= 0 and row.get("rows_match") is None:
        # rows-only success shape (oracle-less query that executed)
        return "no_oracle"
    return "red"


def build_evidence(registered: set[str] | None = None) -> dict:
    """Fold every CORRECTNESS_r*.json into {name: latest driver row}.

    ``registered`` restricts the fold to live registry names so rows for
    deregistered queries can't linger (and can't silently jump the
    rotation queue as "non-green" if the name is ever re-registered) —
    per the r7 verdict, which found `q1_pricing_summary_fast` surviving
    as an r1 no_oracle row after its r6 deregistration."""
    evidence: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            # later rounds overwrite: files iterate in ascending round
            # order, so each query keeps its LATEST driver row
            evidence[name] = {"round": rnd, "status": _row_status(row)}
    if registered is not None:
        dropped = sorted(set(evidence) - registered)
        for name in dropped:
            del evidence[name]
        if dropped:
            print(f"pruned {len(dropped)} deregistered name(s): {dropped}")
    return dict(sorted(evidence.items()))


def _registered_names() -> set[str]:
    import sys

    sys.path.insert(0, REPO)
    from kinesumer_spark.registry import all_queries

    return set(all_queries())


def main() -> None:
    evidence = build_evidence(_registered_names())
    with open(OUT, "w") as f:
        json.dump(evidence, f, indent=1, sort_keys=True)
        f.write("\n")
    by = {}
    for v in evidence.values():
        by.setdefault((v["round"], v["status"]), 0)
        by[(v["round"], v["status"])] += 1
    print(f"wrote {OUT}: {len(evidence)} queries with driver rows")
    for (rnd, status), n in sorted(by.items()):
        print(f"  r{rnd} {status}: {n}")


if __name__ == "__main__":
    main()
