"""Pre-snapshot landing checklist (VERDICT r8 item 5).

The one recurring defect class across rounds is the UNGOVERNED module
landing: a new operators/*.py gets registered in _MODULES and committed
without its SURVEY §2 rows, tests, or plan-lint allowlist entries — so
the committed tree's own guard suite is red at the next judge run
(round-8 session 6: inference.py).

This tool is the cheap, fast (~seconds, no SparkSession) gate a builder
runs BEFORE every snapshot commit:

1. **SURVEY coverage** — every registered query name has a §2 row or a
   documented shorthand alias (the same contract as
   tests/test_registry.py::test_every_registered_query_is_documented_in_survey,
   runnable without waiting for the suite).
2. **Module test coverage** — every _MODULES entry with QUERIES is
   referenced by at least one tests/*.py file (inference.py was the
   only module ever to land with zero).
3. **Oracle pairing** — queries() and oracle_sql() keys are identical
   (the driver errors on oracle-less entries).
4. **Never-checked inventory** — prints the queries with no driver
   green and no deferred marker, i.e. the ones whose plans have not
   been through a recorded plan_lint round yet, with the reminder to
   run `python tools/plan_lint.py` (which IS the slow check) before
   the snapshot if any exist.

Exit 1 on any hard failure (checks 1-3). Usage: python tools/check_landing.py
"""

from __future__ import annotations

import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Shorthand rows that genuinely document several registry names — keep in
# sync with tests/test_registry.py::covered_by.
COVERED_BY = {
    "q_join_semi": "`q_join_left` / semi / anti",
    "q_join_anti": "`q_join_left` / semi / anti",
    "q_distinct_users_approx": "`q_distinct_users`",
    "q_session_stats": "`q_sessionize`",
}


def main() -> None:
    import importlib

    from machinelearningalgomapreduce_spark import registry

    failures: list[str] = []

    # 1. SURVEY coverage
    survey = open(os.path.join(REPO, "SURVEY.md")).read()
    qs = registry.queries()
    undocumented = [
        n for n in qs if COVERED_BY.get(n, f"`{n}`") not in survey
    ]
    if undocumented:
        failures.append(f"SURVEY §2 rows missing for: {undocumented}")

    # 2. module test coverage
    test_blob = "\n".join(
        open(p).read() for p in glob.glob(os.path.join(REPO, "tests", "*.py"))
    )
    untested = []
    for modname in registry._MODULES:
        mod = importlib.import_module(modname)
        if not getattr(mod, "QUERIES", {}):
            continue
        short = modname.rsplit(".", 1)[-1]
        # a module counts as tested if any test imports it by name OR
        # references any of its query functions directly
        if modname not in test_blob and not any(
            f"import {short}" in test_blob or q in test_blob
            for q in mod.QUERIES
        ):
            untested.append(modname)
    if untested:
        failures.append(f"modules with QUERIES but zero test references: {untested}")

    # 3. oracle pairing
    oracles = registry.oracle_sql()
    unpaired = sorted(set(qs) ^ set(oracles))
    if unpaired:
        failures.append(f"queries()/oracle_sql() key mismatch: {unpaired}")

    # 4. never-driver-checked inventory (informational)
    fresh = [n for n in qs if n not in registry.DRIVER_GREEN_ROUND]
    if fresh:
        print(
            f"NOTE: {len(fresh)} queries have no driver-green row yet: {fresh}\n"
            "      run `python tools/plan_lint.py` before the snapshot commit\n"
            "      (new plans need allowlist review)."
        )

    if failures:
        print("LANDING CHECK FAILED:")
        for f in failures:
            print(f"  - {f}")
        sys.exit(1)
    print(f"landing check OK: {len(qs)} queries documented, paired, module-tested")


if __name__ == "__main__":
    main()
