"""Replay-coverage inventory (VERDICT r09 directive 5): list registry
queries that have NO oracle-independent brute-force replay in
tests/test_analytics_properties.py.

A query counts as replayed when its registry name appears as a whole word
on a NON-COMMENT line of that file — the replay pattern there always
imports and runs the REAL registry function by name. The error direction
of the grep heuristic is over-claiming (a name on a code line without an
assertion would count as replayed — a false POSITIVE); comment lines are
stripped before matching so a comment header naming a deferred query
cannot silently satisfy the check. The judge's per-round diff review
backstops the residual code-mention-without-assertion case.

Queries whose correctness evidence comes from a DIFFERENT independent
channel are listed with that channel instead of counting as gaps:
golden-file tests (tests/test_orclog_golden.py pins published PDF
statistics), operator-level distributed==local equality tests, and
round-trip tests. Those files are scanned too and reported per-query.

Usage: python scripts/replay_inventory.py [--gaps-only]
"""

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from orc_spark.plans import registry  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every test file counts as oracle-INDEPENDENT evidence EXCEPT the ones
# whose comparison shares the SQL oracle's algebra or asserts no values:
#   test_query_parity  — the same Spark-vs-DuckDB compare the driver runs
#   test_recursive_oracles — validates the ORACLE side against the shared
#                            f64 engines (closes oracle drift, not Spark)
#   test_empty_inputs  — robustness only (runs to 0+ rows, no values)
#   test_plan_quality  — pins plan SHAPES (exchange/scan counts), which is
#                        scale evidence, not value evidence
#   test_gate_rotation / test_no_reference_copy / test_tables_schema —
#                        process/CI pins, not query evidence
_NOT_EVIDENCE = {
    "test_query_parity.py",
    "test_recursive_oracles.py",
    "test_empty_inputs.py",
    "test_plan_quality.py",
    "test_gate_rotation.py",
    "test_no_reference_copy.py",
    "test_tables_schema.py",
}
PRIMARY = "tests/test_analytics_properties.py"

# PERMANENT, JUSTIFIED residue (VERDICT r12 directive 6): queries whose
# oracle-independent evidence exists but flows through a channel this
# script's name-grep cannot attribute to the query. Each entry documents
# that channel; the inventory reports them separately and they do NOT
# count as actionable gaps. Remove an entry if its replay ever lands in
# tests/test_analytics_properties.py under the registry name.
_PERMANENT_JUSTIFIED = {
    "ts_welch_p": (
        "the no-scipy Student-t CDF (functions/stat_math.py) is validated "
        "against direct numerical integration in tests/test_stat_math.py, "
        "and "
        "the p-value path is golden-anchored by test_orclog_golden.py "
        "(published PDF p-values pinned exactly); the query is that CDF "
        "applied to ts_welch's r11-green t statistics"
    ),
    "st_imu_pipeline": (
        "golden-anchored end-to-end by test_orclog_golden.py on the real "
        "129k-row HS-vibration log, with the firmware quirks (gyro-gates-"
        "accel, swapped PID gains) pinned by dedicated quirk tests; a "
        "second brute-force replay would re-derive the same f64 engine "
        "the golden file already certifies"
    ),
}


def _independent_tests() -> list[str]:
    import glob

    return sorted(
        os.path.relpath(p, REPO)
        for p in glob.glob(os.path.join(REPO, "tests", "test_*.py"))
        if os.path.basename(p) not in _NOT_EVIDENCE
    )


def scan() -> dict[str, list[str]]:
    """name -> list of independent test files mentioning it."""
    names = list(registry())
    hits: dict[str, list[str]] = {n: [] for n in names}
    for rel in _independent_tests():
        path = os.path.join(REPO, rel)
        if not os.path.exists(path):
            continue
        # Strip comment lines (and trailing # comments on code lines) so a
        # comment-only mention of a query name cannot count as evidence.
        text = "\n".join(
            line.split("#", 1)[0] for line in open(path).read().splitlines()
        )
        for n in names:
            if re.search(rf"\b{re.escape(n)}\b", text):
                hits[n].append(rel)
    return hits


def main() -> None:
    gaps_only = "--gaps-only" in sys.argv
    hits = scan()
    replayed = [n for n, h in hits.items() if PRIMARY in h]
    other = [n for n, h in hits.items() if h and PRIMARY not in h]
    gaps = [n for n, h in hits.items() if not h]
    actionable = [n for n in gaps if n not in _PERMANENT_JUSTIFIED]
    permanent = [n for n in gaps if n in _PERMANENT_JUSTIFIED]
    print(
        f"registry: {len(hits)} | property-replayed: {len(replayed)} | "
        f"other independent evidence: {len(other)} | permanent justified: "
        f"{len(permanent)} | ACTIONABLE gaps: {len(actionable)}"
    )
    if not gaps_only:
        print("\nevidence via other independent test files only:")
        for n in other:
            print(f"  {n}: {', '.join(os.path.basename(f) for f in hits[n])}")
        print("\npermanent justified residue (channel documented in-script):")
        for n in permanent:
            print(f"  {n}: {_PERMANENT_JUSTIFIED[n]}")
    print("\nqueries with NO oracle-independent evidence (registry order):")
    for n in actionable:
        print(f"  {n}")
    if not actionable:
        print("  (none)")
    sys.exit(1 if actionable else 0)


if __name__ == "__main__":
    main()
